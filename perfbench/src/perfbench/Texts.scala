package perfbench

import scala.util.Random

/** Seeded synthetic text: prose over a random vocabulary, word-edit
  * variants, degenerate junk and planted PII; plus the driver-side
  * shingle Jaccard the checks recompute (the same distinct character
  * n-gram sets as `TextFunctions.shingleSet`, for ASCII text).
  */
final class Texts(seed: Long) {
  private val rnd = new Random(seed)
  val vocab: IndexedSeq[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Iterator.continually {
      val len = 3 + rnd.nextInt(7)
      (0 until len).map(_ => letters(rnd.nextInt(26))).mkString
    }.distinct.take(6000).toIndexedSeq
  }

  def word(r: Random): String = vocab(r.nextInt(vocab.size))

  def prose(r: Random, words: Int): Vector[String] = Vector.fill(words)(word(r))

  /** `edits` words replaced at distinct random positions. */
  def variant(r: Random, doc: Vector[String], edits: Int): Vector[String] =
    r.shuffle(doc.indices.toList).take(edits).foldLeft(doc)((d, i) => d.updated(i, word(r)))

  /** One or two tokens repeated: fails every repetition gate. */
  def junk(r: Random, words: Int): Vector[String] = {
    val a = word(r); val b = word(r)
    Vector.tabulate(words)(i => if (i % 5 == 4) b else a)
  }

  def email(r: Random): String = s"${word(r)}.${word(r)}${r.nextInt(100)}@${word(r)}.com"

  def phone(r: Random): String = {
    val (a, b, c) = (200 + r.nextInt(800), 200 + r.nextInt(800), r.nextInt(10000))
    r.nextInt(3) match {
      case 0 => f"($a%d) $b%d-$c%04d"
      case 1 => f"$a%d-$b%d-$c%04d"
      case _ => f"$a%d.$b%d.$c%04d"
    }
  }
}

object Texts {
  def shingles(text: String, n: Int): Set[String] =
    if (text.length < n) Set.empty else (0 to text.length - n).map(i => text.substring(i, i + n)).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }
}
