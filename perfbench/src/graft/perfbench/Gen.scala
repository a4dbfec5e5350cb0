package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

/** Seeded text shaped like the `documents` table the repository's own
  * dedup benchmark and oracle queries read (measured on its sf0.1
  * table: 5000 docs, 270704 tokens): lengths uniform over 10 to 99
  * tokens, 30 words each drawing about 1/30 of the tokens, and near-dup
  * documents made by appending the token `dup` to an earlier document
  * (250 of the 5000). `perfbench/profile_documents.py` measures these
  * figures from the table. Every document is a pure function of (seed,
  * its role, its id), so executors generate the corpus and the driver
  * rebuilds any document to check an output against.
  */
object Text {
  val Words: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  val MinLen = 10
  val MaxLen = 99
  /** The token a near-dup appends to the document it copies. */
  val Dup = "dup"
  /** Near-dup documents per document. */
  val DupShare = 0.05

  def rng(seed: Long, salt: Long, a: Long, b: Long = 0L): SplittableRandom =
    new SplittableRandom(
      ((seed * 0x9E3779B97F4A7C15L + salt) * 0xBF58476D1CE4E5B9L + a) *
        0x94D049BB133111EBL + b)

  /** A document of the profile's length and words. */
  def doc(r: SplittableRandom): Array[String] =
    Array.fill(MinLen + r.nextInt(MaxLen - MinLen + 1))(
      Words(r.nextInt(Words.size)))

  /** Exact shingle-set Jaccard, by the definition `Dedup.verifyJaccard`
    * implements: distinct space-joined `k`-token windows.
    */
  def jaccard(a: String, b: String, k: Int): Double = {
    def shingles(t: String): Set[String] =
      t.split(" ", -1).sliding(k).filter(_.length == k)
        .map(_.mkString(" ")).toSet
    val (sa, sb) = (shingles(a), shingles(b))
    val inter = sa.count(sb.contains).toDouble
    inter / ((sa.size + sb.size) - inter)
  }

  /** Duplicated `n`-token spans by the definition
    * `SpanDedup.duplicatedSpans` implements: every window occurring at
    * least twice among all the documents' windows is marked, and marked
    * windows of a document whose starts lie at most `n` apart merge into
    * one (doc, first token, last token) span.
    */
  def dupSpans(docs: Seq[(Long, Array[String])], n: Int)
      : Set[(Long, Long, Long)] = {
    val grams = (t: Array[String]) =>
      t.sliding(n).filter(_.length == n).map(_.mkString(" "))
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    docs.foreach { case (_, t) =>
      grams(t).foreach(g => seen(g) = seen.getOrElse(g, 0) + 1) }
    docs.flatMap { case (id, t) =>
      val starts = grams(t).zipWithIndex.collect {
        case (g, i) if seen(g) >= 2 => i.toLong }.toSeq
      val breaks = starts.indices.filter(k => k == 0 || starts(k) - starts(k - 1) > n)
      breaks.zip(breaks.drop(1) :+ starts.size).map { case (a, b) =>
        (id, starts(a), starts(b - 1) + n - 1) }
    }.toSet
  }

  /** `xxhash64(id)` exactly as the SQL function computes it for a long. */
  def idHash(id: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
}

object Dirs {
  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.delete)
      finally s.close()
    }
  }

  def copy(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val s = Files.walk(src)
    try s.iterator().asScala.toSeq.sortBy(_.getNameCount).foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
    finally s.close()
  }

  /** Bytes of the regular data files under `p` (Spark's hidden `.crc`
    * and `_SUCCESS` markers excluded).
    */
  def dataBytes(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.map(f => Files.size(f)).sum
    finally s.close()
  }
}
