package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Pigeonhole chunk geometry, shared by [[HammingJoinRule]] and the
  * hand-written kernel `graft.ops.Dedup.hammingSelfJoin`: a fingerprint
  * is the little-endian concatenation of words, split into maxH+1
  * chunks over the concatenated bit space. */
object Pigeonhole {

  /** (idx, bit offset, width) for `bits` split into `n` chunks; the
    * first `bits % n` chunks get one more bit. */
  def chunkLayout(bits: Int, n: Int): Seq[(Int, Int, Int)] = {
    val base = bits / n
    val extra = bits % n
    val widths = Seq.tabulate(n)(i => if (i < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths).zipWithIndex.map {
      case ((off, w), idx) => (idx, off, w)
    }
  }

  /** All-ones mask of `w` low bits. `(1L << 64) - 1` is NOT it — JVM
    * shift counts are mod 64, so it evaluates to 0 and a k=0 join (one
    * 64-bit chunk) would degenerate into a constant-key cross join.
    * With -1L the k=0 case becomes an exact equi-join on the whole
    * fingerprint. */
  def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1

  /** The pieces of chunk [off, off+w) over words of widths `wordBits`,
    * as (word, shift right, width, shift left): the chunk value is the
    * OR over pieces of `((word >> right) & mask(width)) << left`. A
    * chunk inside one word has one piece with left = 0; a chunk that
    * straddles a word boundary has two. Arithmetic shift right is safe:
    * the mask strips any sign-extension bits. */
  def pieces(wordBits: Seq[Int], off: Int, w: Int): Seq[(Int, Int, Int, Int)] = {
    val wordOff = wordBits.scanLeft(0)(_ + _)
    wordBits.indices.flatMap { k =>
      val lo = math.max(off, wordOff(k))
      val hi = math.min(off + w, wordOff(k) + wordBits(k))
      if (hi <= lo) None else Some((k, lo - wordOff(k), hi - lo, lo - off))
    }
  }
}

/** Optimizer rule: similarity self-joins of the form
  *
  *   a JOIN b ON bit_count(a.fp ^ b.fp) <= k [AND extra...]
  *
  * or the MULTI-WORD form over fingerprints wider than one BIGINT
  * (round 8 — the shape m03's 120-bit dHash writes):
  *
  *   ... ON bit_count(a.fp0 ^ b.fp0) + bit_count(a.fp1 ^ b.fp1) <= k
  *
  * have no equi-conjunct, so Spark plans a BroadcastNestedLoopJoin —
  * O(|a|x|b|) comparisons, dead at scale. For k+1 <= 8 chunks per
  * 64-bit word this rule rewrites the join into the pigeonhole
  * multi-index form (the construction graft.ops.Dedup.hammingSelfJoin
  * hand-writes for d03 and m03): split the concatenated fingerprint
  * into k+1 chunks (a chunk may straddle a word boundary — its value
  * is assembled from two masked pieces); two fingerprints within
  * hamming k must agree on at least one chunk, so exploding each side
  * to its chunks and equi-joining on (chunk index, chunk value) finds
  * every qualifying pair, the original predicate re-verifies exactly,
  * and a first-match guard (no EARLIER chunk agrees — a plain codegen
  * CASE chain) keeps each pair exactly once. Recall is exact, not
  * probabilistic.
  *
  * Conservative trigger: inner join, condition = conjunction containing
  * exactly one `sum of bit_count(xor) <= k` over bare BIGINT columns
  * from opposite sides (1-4 words, consistent orientation), k+1 <=
  * 8 x nWords chunks, not already rewritten (marker attributes).
  * Everything else is left to Spark.
  */
object HammingJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val MaxChunksPerWord = 8 // keeps chunk width >= 8 bits (256-way buckets)
  val MaxWords = 4
  private val Marker = "__graft_hj"

  /** (word pairs as (leftFp, rightFp), k) when a conjunct is a sum of
    * bit_count(xor) terms <= k with each term's attributes on opposite
    * sides. Word order = appearance order in the sum (both sides use
    * the same order, whatever each term's written orientation). */
  private def hammingConjunct(c: Expression, left: LogicalPlan,
                              right: LogicalPlan): Option[(Seq[(Attribute, Attribute)], Int)] = {
    def sides(a: Expression, b: Expression): Option[(Attribute, Attribute)] = (a, b) match {
      case (x: Attribute, y: Attribute) if x.dataType == LongType && y.dataType == LongType =>
        if (x.references.subsetOf(left.outputSet) && y.references.subsetOf(right.outputSet))
          Some((x, y))
        else if (y.references.subsetOf(left.outputSet) && x.references.subsetOf(right.outputSet))
          Some((y, x))
        else None
      case _ => None
    }
    // flatten a sum of bit_count(xor) terms into oriented word pairs
    def words(e: Expression): Option[Seq[(Attribute, Attribute)]] = e match {
      case add: Add =>
        for (l <- words(add.left); r <- words(add.right)) yield l ++ r
      case BitwiseCount(BitwiseXor(a, b)) => sides(a, b).map(Seq(_))
      case _ => None
    }
    def ok(ws: Seq[(Attribute, Attribute)]): Boolean =
      ws.nonEmpty && ws.size <= MaxWords &&
        ws.map(_._1).distinct.size == ws.size && ws.map(_._2).distinct.size == ws.size
    c match {
      case LessThanOrEqual(e, Literal(k: Int, IntegerType)) =>
        words(e).filter(ok).map(ws => (ws, k))
      case LessThan(e, Literal(k: Int, IntegerType)) =>
        words(e).filter(ok).map(ws => (ws, k - 1))
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), e) =>
        words(e).filter(ok).map(ws => (ws, k))
      case _ => None
    }
  }

  /** chunk value at [off, off+w) of the CONCATENATED 64xN-bit space,
    * assembled from the masked piece(s) of each word. */
  private def extract(fps: Seq[Expression], off: Int, w: Int): Expression =
    Pigeonhole.pieces(fps.map(_ => 64), off, w).map { case (k, right, width, left) =>
      val piece = BitwiseAnd(ShiftRight(fps(k), Literal(right)),
        Literal(Pigeonhole.mask(width)))
      if (left == 0) piece else ShiftLeft(piece, Literal(left))
    }.reduce(BitwiseOr(_, _))

  private def chunkArray(fps: Seq[Expression], defs: Seq[(Int, Int, Int)]): Expression =
    CreateArray(defs.map { case (idx, off, w) =>
      CreateNamedStruct(Seq(
        Literal("ck"), Literal(idx),
        Literal("cv"), extract(fps, off, w)))
    })

  private def chunkOf(fps: Seq[Expression], d: (Int, Int, Int)): Expression =
    extract(fps, d._2, d._3)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !cond.references.exists(_.name.startsWith(Marker)) &&
          left.resolved && right.resolved =>
      val conjuncts = splitConjunctivePredicates(cond)
      // if the join already has an equi conjunct Spark hash-joins it —
      // rewriting would only multiply rows (e.g. d03's own chunk join,
      // whose hamming verify gets pushed into the join condition)
      val hasEquiKey = conjuncts.exists {
        case EqualTo(a, b) =>
          (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
            (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
        case _ => false
      }
      val hams =
        if (hasEquiKey) Nil
        else conjuncts.flatMap(c => hammingConjunct(c, left, right).map(c -> _))
      hams match {
        case Seq((_, (words, k))) if k >= 0 && k + 1 <= MaxChunksPerWord * words.size =>
          val lfp = words.map(_._1: Expression)
          val rfp = words.map(_._2: Expression)
          val defs = Pigeonhole.chunkLayout(64 * words.size, k + 1)
          val structT = StructType(Seq(StructField("ck", IntegerType, nullable = false),
            StructField("cv", LongType, nullable = false)))
          val lOut = AttributeReference(s"${Marker}_l", structT, nullable = false)()
          val rOut = AttributeReference(s"${Marker}_r", structT, nullable = false)()
          val lGen = Generate(Explode(chunkArray(lfp, defs)), Nil, outer = false,
            None, Seq(lOut), left)
          val rGen = Generate(Explode(chunkArray(rfp, defs)), Nil, outer = false,
            None, Seq(rOut), right)
          val lCk = GetStructField(lOut, 0, Some("ck"))
          val lCv = GetStructField(lOut, 1, Some("cv"))
          val rCk = GetStructField(rOut, 0, Some("ck"))
          val rCv = GetStructField(rOut, 1, Some("cv"))
          // exactly-once: no earlier chunk agrees
          val firstMatch: Expression = {
            val branches = defs.drop(1).map { case (idx, _, _) =>
              (EqualTo(lCk, Literal(idx)): Expression,
                Not(defs.take(idx).map(d =>
                  EqualTo(chunkOf(lfp, d), chunkOf(rfp, d)): Expression)
                  .reduce(Or)): Expression)
            }
            CaseWhen((EqualTo(lCk, Literal(0)): Expression, Literal(true): Expression) +: branches,
              Some(Literal(false)))
          }
          val newCond = (Seq(EqualTo(lCk, rCk), EqualTo(lCv, rCv), firstMatch) ++ conjuncts)
            .reduce(And)
          Project(j.output, Join(lGen, rGen, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
