package graftbench

import java.util.SplittableRandom

/** Seeded input building blocks shared by the workloads. */
final class Gen(seed: Long) {
  val rnd = new SplittableRandom(seed)
  def int(n: Int): Int = rnd.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def gaussian(): Double = {
    // Box-Muller over the one seeded stream
    val u = rnd.nextDouble().max(1e-12); val v = rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
  def word(): String = Gen.Vocab(int(Gen.Vocab.length))
  def words(n: Int): Seq[String] = Seq.fill(n)(word())
  def sentence(n: Int): String = words(n).mkString(" ")
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) { val j = int(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

object Gen {
  /** A fixed 4096-word lowercase vocabulary of pronounceable tokens. */
  val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(20261017L)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4096) {
      val syl = 2 + r.nextInt(3)
      val w = (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
      seen += w
    }
    seen.toIndexedSeq
  }
}
