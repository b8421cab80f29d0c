package graftbench

import scala.util.Random

/** Seeded input generator. Documents follow the sf0.1 `documents`
  * shape: a 30-word vocabulary, 10-100 words each, 20 sources, five
  * languages with English at ~41 %, and ~5 % near-duplicates (an
  * earlier document's text plus the marker word "dup"). `scale` sets
  * the document count; sf0.1 itself holds 5,000. The same seed always
  * yields the same documents, queries and mutation script. */
object Gen {
  val vocab: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast row " +
    "the agg key query a scan batch").split(" ").toIndexedSeq
  val sources = 20
  private val langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  private def words(r: Random, n: Int): String =
    Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")

  private def lang(r: Random): String = {
    val u = r.nextDouble()
    langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
      .drop(1).find(_._2 > u).map(_._1).getOrElse("en")
  }

  /** `n` documents with ids `firstId until firstId + n`. */
  def documents(seed: Long, n: Int, firstId: Long = 0L): IndexedSeq[Doc] = {
    val r = new Random(seed * 1000003L + firstId)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val text =
        if (out.nonEmpty && r.nextDouble() < 0.05) out(r.nextInt(out.size)).text + " dup"
        else words(r, 10 + r.nextInt(91))
      out += Doc(firstId + i, text, lang(r), s"src${r.nextInt(sources)}")
    }
    out.toIndexedSeq
  }

  /** Chunks a document splits into at the library's 32-word window. */
  def chunkCount(d: Doc, window: Int = 32): Int =
    (d.text.split(" ").length + window - 1) / window

  /** `n` five-word query texts. */
  def queries(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new Random(seed * 7919L + 17L)
    IndexedSeq.fill(n)(words(r, 5))
  }

  /** Replacement text for an updated chunk (5-30 words). */
  def chunkText(r: Random): String = words(r, 5 + r.nextInt(26))
}
