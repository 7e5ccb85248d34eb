package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.tools.CrossProcessMaterializer

/** The materialization substrate's concurrency contract, proven the way
  * CrossProcessEmuSpec proves the emu's (round-16 verdict gap 3): every
  * lifecycle operator rides [[graft.core.Materialize]], so the races it
  * can lose — two JVMs cold-computing one fingerprint, a sweep racing a
  * live publisher, a winner crashing inside the swap window — need
  * spec-level evidence, not just the docstring's argument.
  *
  * The round-17 protocol under test: completeness = marker + data files
  * (a marker-only dir is refused and self-healed), the destination swap
  * runs under a per-key create-if-absent `.lock` file (the ADVICE race
  * that could mint a marker-only dir is structurally closed), a crashed
  * winner's stale lock is broken by age and the waiter re-publishes
  * from its OWN kept temp, and in-JVM direct `publish()` callers are
  * serialized on the same keyLock as readOrCompute.
  */
class CrossProcessMatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private def withMatDir[T](body: String => T): T = {
    val mat = Files.createTempDirectory("graft-xmat").toString
    spark.conf.set("spark.graft.mat.dir", mat)
    try body(mat) finally spark.conf.unset("spark.graft.mat.dir")
  }

  /** non-table residue under `<mat>/<kind>`: in-progress temps + locks */
  private def residue(mat: String, kind: String): Seq[String] = {
    val dir = new java.io.File(mat, kind)
    if (!dir.exists()) Seq.empty
    else dir.listFiles().toSeq.map(_.getName)
      .filter(n => n.contains(".inprogress-") || n.endsWith(".lock"))
  }

  private def childClasspath: String =
    (Seq(graft.core.Materialize.getClass, // main classes
         CrossProcessMaterializer.getClass) // test classes
      .map(_.getProtectionDomain.getCodeSource.getLocation.getPath)
      .distinct :+ "/opt/spark/jars/*").mkString(java.io.File.pathSeparator)

  test("two JVMs cold-compute one fingerprint: single winner, loser defers, " +
    "readers never see a partial or marker-only table") {
    withMatDir { mat =>
      val kind = "xmat"
      val fp = "race-fp-1"
      val ready = Paths.get(mat, "child.ready")
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val child = new ProcessBuilder(javaBin, "-Xmx1g", "-cp", childClasspath,
        "graft.tools.CrossProcessMaterializer", mat, kind, fp, "1500", ready.toString)
        .redirectErrorStream(true).start()
      // readers hammer exists()+read during the whole race: completeness
      // (marker + data) must make "exists ⇒ full 1000-row read" atomic
      val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!stop.get && bad.get == null) {
          try {
            if (graft.core.Materialize.exists(spark, kind, fp)) {
              val n = spark.read
                .parquet(graft.core.Materialize.tablePath(spark, kind, fp)).count()
              if (n != 1000L) bad.compareAndSet(null, s"partial read: $n rows")
            }
          } catch { case e: Throwable => bad.compareAndSet(null, s"reader threw: $e") }
        }
      })
      reader.start()
      try {
        // enter the race as soon as the child JVM is warm, so both
        // publish windows overlap
        val deadline = System.currentTimeMillis() + 120000
        while (!Files.exists(ready) && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(Files.exists(ready), "child JVM never came up")
        val mine = graft.core.Materialize.readOrCompute(spark, kind, fp) {
          Thread.sleep(1500)
          CrossProcessMaterializer.tableFor(spark, fp)
        }
        assert(mine.count() == 1000L)
        val out = new String(child.getInputStream.readAllBytes, "UTF-8")
        assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
          s"child hung; output: $out")
        assert(child.exitValue() == 0, s"child failed: $out")
        assert(out.contains("CHILD_DONE rows=1000"), s"child read wrong table: $out")
      } finally { stop.set(true); reader.join() }
      assert(bad.get == null, String.valueOf(bad.get))
      // exactly one complete generation, no temp or lock residue
      assert(graft.core.Materialize.listGenerations(spark, kind) == Seq(fp))
      assert(residue(mat, kind).isEmpty, s"residue: ${residue(mat, kind)}")
      assert(spark.read.parquet(graft.core.Materialize.tablePath(spark, kind, fp))
        .count() == 1000L)
    }
  }

  test("marker-only and unmarked crash residue are refused as incomplete " +
    "and self-healed by the next publish") {
    val s = spark
    import s.implicits._
    withMatDir { mat =>
      val kind = "heal"
      // marker-only dir: the corruption the pre-lock protocol could mint
      val mo = new java.io.File(graft.core.Materialize.tablePath(spark, kind, "m1"))
      mo.mkdirs()
      Files.writeString(new java.io.File(mo, "_SUCCESS").toPath, "")
      assert(!graft.core.Materialize.exists(spark, kind, "m1"),
        "a marker-only dir must not read as complete")
      assert(graft.core.Materialize.listGenerations(spark, kind).isEmpty)
      val healed = graft.core.Materialize.readOrCompute(spark, kind, "m1")(
        (1 to 7).toDF("k"))
      assert(healed.count() == 7L)
      assert(graft.core.Materialize.exists(spark, kind, "m1"))
      // unmarked data dir: a winner crashed between rename and marker
      (1 to 5).toDF("k").write.parquet(
        graft.core.Materialize.tablePath(spark, kind, "m2"))
      Files.delete(Paths.get(
        graft.core.Materialize.tablePath(spark, kind, "m2"), "_SUCCESS"))
      assert(!graft.core.Materialize.exists(spark, kind, "m2"))
      val replaced = graft.core.Materialize.readOrCompute(spark, kind, "m2")(
        (1 to 9).toDF("k"))
      assert(replaced.count() == 9L, "the replacement table must serve")
      assert(residue(mat, kind).isEmpty)
    }
  }

  test("a crashed winner's stale lock is broken by age and the waiter " +
    "re-publishes from its own temp; a live lock times out cleanly") {
    val s = spark
    import s.implicits._
    withMatDir { mat =>
      val kind = "lock"
      val lockOf = (fp: String) =>
        Paths.get(graft.core.Materialize.tablePath(spark, kind, fp) + ".lock")
      // stale lock (crashed holder): publish must break it and complete
      Files.createDirectories(Paths.get(mat, kind))
      Files.writeString(lockOf("s1"), "")
      Files.setLastModifiedTime(lockOf("s1"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 11L * 60 * 1000))
      val got = graft.core.Materialize.readOrCompute(spark, kind, "s1")(
        (1 to 11).toDF("k"))
      assert(got.count() == 11L)
      assert(!Files.exists(lockOf("s1")), "the broken lock must not linger")
      // live lock (a real holder elsewhere): bounded wait, clean throw,
      // temp cleaned, the holder's lock untouched — then recovery once
      // the holder releases
      Files.writeString(lockOf("s2"), "")
      spark.conf.set("spark.graft.mat.publishWaitMs", "800")
      try {
        intercept[IllegalStateException] {
          graft.core.Materialize.readOrCompute(spark, kind, "s2")(
            (1 to 3).toDF("k"))
        }
      } finally spark.conf.unset("spark.graft.mat.publishWaitMs")
      assert(Files.exists(lockOf("s2")), "a LIVE holder's lock must not be stolen")
      assert(residue(mat, kind) == Seq("s2.lock"), s"${residue(mat, kind)}")
      Files.delete(lockOf("s2"))
      assert(graft.core.Materialize.readOrCompute(spark, kind, "s2")(
        (1 to 3).toDF("k")).count() == 3L)
      assert(residue(mat, kind).isEmpty)
    }
  }

  test("retention sweep racing a live publisher: the in-progress temp " +
    "survives, the publish completes, pins stay byte-untouched") {
    val s = spark
    import s.implicits._
    withMatDir { mat =>
      val kind = "sweeprace"
      graft.core.Materialize.readOrCompute(spark, kind, "pin")((1 to 4).toDF("k"))
      graft.core.Materialize.readOrCompute(spark, kind, "old")((1 to 6).toDF("k"))
      // a publisher whose parquet write is mid-flight when the sweep
      // runs; the entered-signal is a sentinel file (the task closure
      // must stay serializable)
      val sentinel = Paths.get(mat, "writer-entered")
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val publisher = new Thread(() => {
        try {
          graft.core.Materialize.publish(spark, kind, "fresh") {
            val sentinelPath = sentinel.toString
            (1 to 8).toDF("k").as[Int].mapPartitions { it =>
              try java.nio.file.Files.createFile(java.nio.file.Paths.get(sentinelPath))
              catch { case _: java.nio.file.FileAlreadyExistsException => () }
              Thread.sleep(2500); it
            }.toDF("k")
          }
        } catch { case e: Throwable => err.set(e) }
      })
      publisher.start()
      val enterDeadline = System.currentTimeMillis() + 60000
      while (!Files.exists(sentinel) && System.currentTimeMillis() < enterDeadline)
        Thread.sleep(50)
      assert(Files.exists(sentinel), s"publisher never entered: ${err.get}")
      Thread.sleep(300) // let the write create its .inprogress temp
      val (retained, swept) =
        graft.core.Materialize.retentionSweep(spark, kind, Set("pin"))
      assert(retained == Seq("pin") && swept == Seq("old"))
      publisher.join(60000)
      assert(!publisher.isAlive, "publisher hung")
      assert(err.get == null, s"publisher failed under the sweep: ${err.get}")
      assert(graft.core.Materialize.listGenerations(spark, kind).toSet ==
        Set("pin", "fresh"), "the racing publish must land complete")
      assert(spark.read.parquet(
        graft.core.Materialize.tablePath(spark, kind, "fresh")).count() == 8L)
      assert(residue(mat, kind).isEmpty)
      // publish-time stale-temp sweep: only AGED temps are reaped
      val fresh = new java.io.File(new java.io.File(mat, kind), "z.inprogress-1-1")
      val aged = new java.io.File(new java.io.File(mat, kind), "z.inprogress-2-2")
      Seq(fresh, aged).foreach { d =>
        d.mkdirs()
        Files.writeString(new java.io.File(d, "part-0").toPath, "x")
      }
      Seq(new java.io.File(aged, "part-0").toPath, aged.toPath).foreach(p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 3600 * 1000)))
      graft.core.Materialize.publish(spark, kind, "poke")((1 to 2).toDF("k"))
      assert(fresh.exists(), "a fresh temp (possible live writer) was reaped")
      assert(!aged.exists(), "the aged crash residue must be reaped")
    }
  }

  test("retention sweep races a publisher in ANOTHER JVM: the child's " +
    "in-progress temp survives the sweep, its publish lands complete") {
    val s = spark
    import s.implicits._
    withMatDir { mat =>
      val kind = "xsweep"
      graft.core.Materialize.readOrCompute(spark, kind, "pin")((1 to 4).toDF("k"))
      graft.core.Materialize.readOrCompute(spark, kind, "old")((1 to 6).toDF("k"))
      val ready = Paths.get(mat, "sweepchild.ready")
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      // the child's parquet write sleeps 5 s per partition, holding its
      // .inprogress window open while this JVM sweeps the family
      val child = new ProcessBuilder(javaBin, "-Xmx1g", "-cp", childClasspath,
        "graft.tools.CrossProcessMaterializer", mat, kind, "fresh", "0",
        ready.toString, "5000")
        .redirectErrorStream(true).start()
      try {
        val kindDir = new java.io.File(mat, kind)
        val deadline = System.currentTimeMillis() + 120000
        def temps() = Option(kindDir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .map(_.getName).filter(_.contains(".inprogress-"))
        while (temps().isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(temps().nonEmpty, "never observed the child's in-progress temp")
        // sweep the family mid-write from THIS process: the live temp is
        // structurally out of jurisdiction, the unpinned generation goes
        val (retained, swept) =
          graft.core.Materialize.retentionSweep(spark, kind, Set("pin"))
        assert(retained == Seq("pin") && swept == Seq("old"))
        val out = new String(child.getInputStream.readAllBytes, "UTF-8")
        assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
          s"child hung; output: $out")
        assert(child.exitValue() == 0, s"child failed under the sweep: $out")
        assert(out.contains("CHILD_DONE rows=1000"), out)
      } finally child.destroyForcibly()
      assert(graft.core.Materialize.listGenerations(spark, kind).toSet ==
        Set("pin", "fresh"), "the child's racing publish must land complete")
      assert(spark.read.parquet(
        graft.core.Materialize.tablePath(spark, kind, "fresh")).count() == 1000L)
      assert(residue(mat, kind).isEmpty, s"residue: ${residue(mat, kind)}")
    }
  }

  test("property: threads hammering readOrCompute AND direct publish on one " +
    "key — always one complete correct table, no residue") {
    val s = spark
    import s.implicits._
    withMatDir { mat =>
      val kind = "storm"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        for (round <- 1 to 4) {
          val fp = s"storm-$round"
          val barrier = new java.util.concurrent.CyclicBarrier(8)
          val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
          val futs = (0 until 8).map { i =>
            pool.submit(new Runnable {
              def run(): Unit = {
                try {
                  barrier.await()
                  val df =
                    if (i % 2 == 0)
                      graft.core.Materialize.readOrCompute(spark, kind, fp)(
                        (1 to 100).map(j => (j, fp)).toDF("k", "v"))
                    else
                      graft.core.Materialize.publish(spark, kind, fp)(
                        (1 to 100).map(j => (j, fp)).toDF("k", "v"))
                  if (df.count() != 100L) throw new IllegalStateException("short read")
                } catch { case e: Throwable => errs.add(e) }
              }
            })
          }
          futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
          assert(errs.isEmpty, s"round $round: ${errs.peek()}")
          assert(graft.core.Materialize.listGenerations(spark, kind)
            .contains(fp))
          assert(spark.read.parquet(
            graft.core.Materialize.tablePath(spark, kind, fp)).count() == 100L)
          assert(residue(mat, kind).isEmpty, s"round $round: ${residue(mat, kind)}")
        }
      } finally pool.shutdown()
    }
  }
}
