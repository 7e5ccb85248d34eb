package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.{LocalCheckpointFileManager, Replay => R}

/** [[LocalCheckpointFileManager]] against Spark's default
  * (FileContext-based) manager: one scripted sequence with identical
  * outcomes, checkpoints that resume across the two in both directions,
  * and the JVM-wide default that makes it every graft session's manager. */
class CheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private val Key = LocalCheckpointFileManager.ClassKey
  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName
  private val Ours = classOf[LocalCheckpointFileManager].getName

  /** names of Hadoop `.<name>.crc` sidecars under `dir`: Spark's default
    * manager writes one per file, ours none */
  private def hadoopCrcs(dir: String): Seq[String] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".") && n.endsWith(".crc")).toSeq
    finally walk.close()
  }

  /** The script: every step's outcome (a value or an exception class),
    * and the temp files left in the log dir at the end. */
  private def script(mk: (Path, Configuration) => CheckpointFileManager)
      : (Seq[String], Seq[String]) = {
    val dir = Files.createTempDirectory("graft-ckfm")
    val root = new Path(dir.toString)
    val fm = mk(root, new Configuration())
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def step(label: String)(body: => Any): Unit =
      out += (try s"$label: ${body}" catch { case e: Exception => s"$label: ${e.getClass.getName}" })
    def write(p: Path, text: String, overwrite: Boolean): Unit = {
      val o = fm.createAtomic(p, overwrite)
      o.write(text.getBytes("UTF-8"))
      o.close()
    }
    def read(p: Path): String = {
      val in = fm.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def names(p: Path): Seq[String] = {
      val ls = Files.list(Paths.get(p.toUri.getPath))
      try ls.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally ls.close()
    }
    // what Hadoop's file listings show: hidden (temp, checksum) files aside
    def visible(p: Path): Seq[String] = names(p).filterNot(_.startsWith("."))
    def temps(p: Path): Int = names(p).count(_.endsWith(".tmp"))
    val batchFiles: PathFilter = p => p.getName.toLongOption.isDefined
    def listed(p: Path, f: PathFilter): Seq[String] =
      fm.list(p, f).map(st => s"${st.getPath.getName}/${st.isDirectory}/${st.getLen}")
        .toSeq.sorted
    val logDir = new Path(root, "offsets")
    val f0 = new Path(logDir, "0")

    step("checkpoint dir")(fm.createCheckpointDirectory().toString.replace(dir.toString, "<dir>"))
    step("isLocal")(fm.isLocal)
    step("mkdirs")(fm.mkdirs(logDir))
    step("mkdirs again")(fm.mkdirs(logDir))
    step("exists dir")(fm.exists(logDir))
    step("exists missing")(fm.exists(new Path(root, "missing")))
    step("create")(write(f0, "first", overwrite = false))
    step("read")(read(f0))
    step("overwrite")(write(f0, "second", overwrite = true))
    step("read overwritten")(read(f0))
    step("no-overwrite collision")(write(f0, "third", overwrite = false))
    step("read after collision")(read(f0))
    step("visible after collision")(visible(logDir))
    step("cancel") {
      val o = fm.createAtomic(new Path(logDir, "1"), false)
      o.write("never".getBytes("UTF-8"))
      o.cancel()
    }
    step("exists cancelled")(fm.exists(new Path(logDir, "1")))
    step("visible after cancel")(visible(logDir))
    step("filtered list during a write") {
      val before = temps(logDir)
      val o = fm.createAtomic(new Path(logDir, "2"), false)
      o.write("two".getBytes("UTF-8"))
      val during = listed(logDir, batchFiles)
      val tempWritten = temps(logDir) == before + 1
      o.close()
      (during, tempWritten)
    }
    step("filtered list")(listed(logDir, batchFiles))
    step("list all")(listed(root, _ => true))
    step("list missing")(listed(new Path(root, "missing"), batchFiles))
    step("open missing")(read(new Path(logDir, "9")))
    step("open in missing dir")(read(new Path(root, "missing/0")))
    step("create in missing dir")(write(new Path(root, "nodir/0"), "x", overwrite = true))
    step("delete file")(fm.delete(f0))
    step("exists deleted")(fm.exists(f0))
    step("visible after delete")(visible(logDir))
    step("delete missing")(fm.delete(f0))
    step("mkdirs nested")(fm.mkdirs(new Path(root, "state/0/1")))
    step("delete dir")(fm.delete(new Path(root, "state")))
    step("exists deleted dir")(fm.exists(new Path(root, "state")))
    step("visible root")(visible(root))
    val leftover = names(logDir).filter(_.endsWith(".tmp"))
    fm.close()
    (out.toSeq, leftover)
  }

  test("the scripted sequence: LocalCheckpointFileManager == Spark's FileContext manager") {
    val (ours, oursLeft) = script(new LocalCheckpointFileManager(_, _))
    val (theirs, _) = script(new FileContextBasedCheckpointFileManager(_, _))
    assert(ours == theirs, "\n" + ours.zip(theirs).filter(p => p._1 != p._2).mkString("\n"))
    // Spark's manager leaves the collision loser's hidden temp file
    // behind; this one leaves none
    assert(oursLeft.isEmpty, oursLeft)
    // the script really exercised the contract
    assert(theirs.contains(
      "no-overwrite collision: org.apache.hadoop.fs.FileAlreadyExistsException"))
    assert(theirs.contains("read after collision: second"))
    assert(theirs.contains("list missing: java.io.FileNotFoundException"))
    assert(theirs.contains("open missing: java.io.FileNotFoundException"))
    assert(theirs.contains("filtered list during a write: (ArraySeq(0/false/6),true)"))
    assert(theirs.contains("visible after cancel: List(0)"))
  }

  test("only file: and scheme-less paths on a file: default FS take the java.nio path") {
    val local = new Configuration()
    val remote = new Configuration()
    remote.set("fs.defaultFS", "hdfs://namenode:8020")
    def isLocal(p: String, c: Configuration) = LocalCheckpointFileManager.isLocalPath(new Path(p), c)
    assert(isLocal("file:/tmp/ck", local) && isLocal("/tmp/ck", local) && isLocal("file:/tmp/ck", remote))
    assert(!isLocal("/tmp/ck", remote) && !isLocal("hdfs://namenode:8020/ck", local) &&
      !isLocal("s3a://bucket/ck", local))
  }

  test("a sinkRun checkpoint resumes across the two managers in both directions, rows identical") {
    val as = R.admissionSession(spark) // RocksDB state with changelog checkpointing
    import as.implicits._
    val expected = (1L to 30L).map(k => (k, s"v$k"))
    def drain(first: String, second: String): Seq[(Long, String)] = {
      val src = Files.createTempDirectory("graft-ckfm-src").toString
      val base = R.runBase(as, "ckfm")
      def arrive(ks: Seq[Long]): Unit =
        ks.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1).write.mode("append").parquet(src)
      def pass(manager: String): Seq[(Long, String)] = {
        val prev = as.conf.getOption(Key)
        as.conf.set(Key, manager) // a deployment-set class: sinkRun leaves it alone
        try R.sinkRun(as, as.readStream.schema("k LONG, v STRING").parquet(src)
            .dropDuplicates("k"), base, partitions = 2)
          .as[(Long, String)].collect().toSeq.sorted
        finally prev.fold(as.conf.unset(Key))(as.conf.set(Key, _))
      }
      arrive(1L to 20L)
      pass(first)
      val crcsAfterFirst = hadoopCrcs(s"$base/ck").size
      assert((crcsAfterFirst > 0) == (first == SparkDefault), s"$first wrote $crcsAfterFirst crcs")
      arrive(15L to 30L) // 15..20 are duplicates the resumed state must drop
      val rows = pass(second)
      assert((hadoopCrcs(s"$base/ck").size > crcsAfterFirst) == (second == SparkDefault))
      rows
    }
    assert(drain(Ours, SparkDefault) == expected)
    assert(drain(SparkDefault, Ours) == expected)
  }

  test("a session that only installs GraftExtensions gets the defaults: replays write " +
      "no .crc, and a class the session's .config names is kept for the run") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-ckfm-scope").resolve("in").toString
    Seq(1L, 2L, 3L).toDF("k").write.parquet(src)
    /** a session built as perfbench builds its own: the extension plus
      * the caller's settings, none of Session's conf table */
    def bare(settings: (String, String)*): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try settings.foldLeft(SparkSession.builder()
          .withExtensions(new graft.plans.GraftExtensions).master("local[4]")) {
          case (b, (k, v)) => b.config(k, v)
        }.getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    }
    def run(s: SparkSession): (Option[String], Int) = {
      var during: Option[String] = None
      val base = R.runBase(s, "ckfm-scope")
      val n = R.sinkRun(s, s.readStream.schema("k LONG").parquet(src), base,
        onDone = _ => during = s.conf.getOption(Key)).count().toInt
      assert(n == 3)
      (during, hadoopCrcs(s"$base/ck").size)
    }
    val plain = bare()
    assert(plain ne spark)
    assert(plain.conf.getOption(Key).contains(Ours))
    assert(plain.conf.getOption("spark.sql.artifact.isolation.enabled").contains("false"))
    val (during, crcs) = run(plain)
    assert(during.contains(Ours) && crcs == 0)
    assert(plain.conf.getOption(Key).contains(Ours))
    val configured = bare(Key -> SparkDefault)
    val (kept, crcsDefault) = run(configured)
    assert(kept.contains(SparkDefault) && crcsDefault > 0)
    assert(configured.conf.getOption(Key).contains(SparkDefault))
  }

  test("s14 with spark.graft.replay.checkpointChecksum=true is row-identical to the default") {
    // the sf0.001 corpus bundled with the benchmark
    val sf = Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString
    val root = Paths.get(R.replayRoot(R.admissionSession(spark)))
    def s14Dirs(): Set[String] = {
      val ls = Files.list(root)
      try ls.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith("s14-")).toSet
      finally ls.close()
    }
    // Spark's checksum wrapper writes a `<name>.crc` beside every checkpoint file
    def run(): (Seq[String], Int) = {
      val before = s14Dirs()
      val rows = R.s14(spark, sf).collect().map(_.toString).toSeq.sorted
      val made = (s14Dirs() -- before).toSeq
      assert(made.size == 1, made)
      val walk = Files.walk(root.resolve(made.head).resolve("ck"))
      val sums = try walk.iterator.asScala.map(_.getFileName.toString)
        .count(n => !n.startsWith(".") && n.endsWith(".crc")) finally walk.close()
      (rows, sums)
    }
    val (plain, plainSums) = run()
    spark.conf.set("spark.graft.replay.checkpointChecksum", "true")
    val (checked, checkedSums) = try run()
      finally spark.conf.unset("spark.graft.replay.checkpointChecksum")
    assert(plain.nonEmpty && checked == plain)
    assert(plainSums == 0 && checkedSums > 0, (plainSums, checkedSums))
  }
}
