package graft.perfbench

/** A seeded ingest batch over the given ids, shaped like the
  * `documents` table (see [[Text]]), with planted structure:
  *
  *  - `copies.size` documents copy a stored caption and append `dup`
  *    (the table's near-dup edit), for the index probe to find;
  *  - `2 * nSpans` documents of at least `SpanHostMinLen` tokens carry
  *    a planted span, a run of tokens that occurs nowhere else, in pairs;
  *  - a `Text.DupShare` of the rest copy an earlier background or
  *    near-dup document of the batch and append `dup`, so near-dup
  *    components of two to four documents form as in the table.
  *
  * Copies and span hosts are never copied, so each stays a component of
  * its own. Every text is a pure function of the seed and the id, so
  * executors generate the batch and the driver rebuilds any document.
  */
final class Batch(seed: Long, val ids: IndexedSeq[Long], copies: Seq[String],
    nSpans: Int) extends Serializable {
  import Batch._

  require(ids.sorted == ids, "ids must ascend")
  private val n = ids.size
  private val local = ids.zipWithIndex.toMap
  // per local index: the document it copies (-1: none), the stored
  // caption it copies (-1: none), the span it hosts (-1: none)
  private val source = Array.fill(n)(-1)
  private val copy = Array.fill(n)(-1)
  private val span = Array.fill(n)(-1)

  {
    val perm = (0 until n).toArray
    val r = Text.rng(seed, 11, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val x = perm(i); perm(i) = perm(j); perm(j) = x
      i -= 1
    }
    copies.indices.foreach(k => copy(perm(k)) = k)
    // long hosts only: two short ones sharing a span would be near-dups
    val rest = perm.drop(copies.size)
    val hosts = rest.filter(i =>
      Text.doc(Text.rng(seed, 15, i)).length >= SpanHostMinLen).take(2 * nSpans)
    hosts.zipWithIndex.foreach { case (i, p) => span(i) = p }
    val dups = rest.filterNot(hosts.contains)
      .take((Text.DupShare * n).round.toInt).toSet
    val eligible = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until n).foreach { i =>
      if (dups(i) && eligible.nonEmpty)
        source(i) = eligible(r.nextInt(eligible.size))
      if (copy(i) < 0 && span(i) < 0) eligible += i
    }
  }

  /** The earliest document of the near-dup component holding `id`. */
  def rootOf(id: Long): Long = ids(root(local(id)))

  private def root(i: Int): Int = if (source(i) < 0) i else root(source(i))

  private def spanStart(p: Int, len: Int): Int =
    Text.rng(seed, 14, p).nextInt(len - SpanLen + 1)

  private def tokens(i: Int): Array[String] =
    if (source(i) >= 0) tokens(source(i)) :+ Text.Dup
    else if (copy(i) >= 0) copies(copy(i)).split(" ") :+ Text.Dup
    else {
      val t = Text.doc(Text.rng(seed, 15, i))
      val p = span(i)
      if (p >= 0) {
        val at = spanStart(p, t.length)
        for (q <- 0 until SpanLen) t(at + q) = s"p${p / 2}t$q"
      }
      t
    }

  def text(id: Long): String = tokens(local(id)).mkString(" ")

  /** (copied stored caption's index in `copies`, the copy's id). */
  def copyIds: Seq[(Int, Long)] =
    (0 until n).filter(copy(_) >= 0).map(i => (copy(i), ids(i)))

  /** Every pair of documents in one planted near-dup component. */
  def plantedPairs: Seq[(Long, Long)] =
    (0 until n).groupBy(root).values.filter(_.size > 1).toSeq.flatMap { c =>
      c.sorted.combinations(2).map(x => (ids(x(0)), ids(x(1))))
    }

  /** (doc, first token, last token) of every planted span occurrence. */
  def spans: Set[(Long, Long, Long)] = (0 until n).filter(span(_) >= 0)
    .map { i =>
      val at = spanStart(span(i), tokens(i).length).toLong
      (ids(i), at, at + SpanLen - 1)
    }.toSet
}

object Batch {
  val SpanLen = 12
  /** Two hosts of this length sharing a span have Jaccard < 0.2. */
  val SpanHostMinLen = 40
}
