package perfbench

import scala.util.Random

/** Seeded synthetic English. Content words are made-up syllable words
  * chained through a fixed successor table, with English stopwords in
  * between: graft's language heuristic tags the text `en`, and its
  * bigrams repeat across documents the way real text does, so a
  * self-scored bigram model separates it from gibberish. */
final class Text(rng: Random, nWords: Int) {
  import Text._

  val words: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < nWords) {
      val w = word(rng)
      if (!Reserved.contains(w)) seen += w
    }
    seen.toArray
  }

  private val next: Array[Array[Int]] =
    Array.fill(words.length)(Array.fill(Successors)(rng.nextInt(words.length)))

  /** `n` tokens: runs of 1 to 3 chained content words, each run led by
    * a stopword. */
  def tokens(r: Random, n: Int): Array[String] = {
    val out = new Array[String](n)
    var w = r.nextInt(words.length)
    var i = 0
    while (i < n) {
      out(i) = Stop(r.nextInt(Stop.length)); i += 1
      var run = 1 + r.nextInt(3)
      while (run > 0 && i < n) {
        w = next(w)(r.nextInt(Successors))
        out(i) = words(w); i += 1; run -= 1
      }
    }
    out
  }

  def doc(r: Random, n: Int): String = tokens(r, n).mkString(" ")

  /** A near-duplicate of `tokens`: about one word in `per` replaced by
    * a random content word, never fewer than `min` words. */
  def nearCopy(r: Random, tokens: Array[String], per: Int = 100, min: Int = 1): String = {
    val t = tokens.clone()
    val m = math.max(min, t.length / per)
    r.shuffle(t.indices.toVector).take(m).foreach { i =>
      var w = t(i)
      while (w == t(i)) w = words(r.nextInt(words.length))
      t(i) = w
    }
    t.mkString(" ")
  }
}

object Text {
  val Successors = 4
  /** graft's `en` markers first, then other English stopwords. */
  val Stop: Array[String] =
    Array("the", "and", "of", "to", "is", "that", "with", "a", "in", "for", "on", "as", "by")
  /** Markers of the other languages graft's heuristic knows, and the
    * stopwords: a generated content word must not be one of these. */
  private val Reserved: Set[String] = Stop.toSet ++ Set(
    "el", "la", "los", "las", "que", "para", "der", "die", "das", "und",
    "nicht", "mit", "le", "les", "des", "est", "dans", "il", "che", "per",
    "con", "sono", "an", "it", "at", "this")

  private val Onsets = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "st", "tr", "pl", "gr")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou")

  def word(rng: Random): String =
    (0 until 2 + rng.nextInt(2)).map(_ =>
      Onsets(rng.nextInt(Onsets.length)) + Vowels(rng.nextInt(Vowels.length))).mkString

  /** Random letter strings with every fourth token a stopword: tagged
    * `en`, shaped like words, but with bigrams no other document has. */
  def gibberish(r: Random, n: Int): String =
    (0 until n).map { i =>
      if (i % 4 == 0) Stop(r.nextInt(7))
      else (0 until 4 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.mkString(" ")

  /** Punctuation only: no letters, so no language. */
  def symbols(r: Random, n: Int): String = {
    val sym = "#*@%&=+~^|"
    (0 until n).map(_ => Seq.fill(2 + r.nextInt(4))(sym(r.nextInt(sym.length))).mkString)
      .mkString(" ")
  }
}
