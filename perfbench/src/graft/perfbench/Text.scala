package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

/** A seeded pseudo-word vocabulary with Zipf-distributed draws. Words
  * are built from letters other than `q` and `x`, so tokens that
  * start with `qx` (the planted marker terms) never collide with it. */
final class Vocab(seed: Long, size: Int, exponent: Double) {
  private val consonants = "bcdfghjklmnprstvwz"
  private val vowels = "aeiou"

  val words: Array[String] = {
    val rng = new SplittableRandom(seed)
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](size)
    var i = 0
    while (i < size) {
      val syll = 1 + rng.nextInt(3)
      val sb = new StringBuilder
      (0 until syll).foreach { _ =>
        sb += consonants.charAt(rng.nextInt(consonants.length))
        sb += vowels.charAt(rng.nextInt(vowels.length))
        if (rng.nextInt(3) == 0) sb += consonants.charAt(rng.nextInt(consonants.length))
      }
      val w = sb.toString
      if (w.length >= 3 && seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  private val zipf = new Zipf(size, exponent)

  def draw(rng: SplittableRandom): String = words(zipf.rank(rng))

  def sentence(rng: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach { i => if (i > 0) sb += ' '; sb ++= draw(rng) }
    sb.toString
  }
}

/** Zipf-distributed ranks in `[0, n)`: rank r has weight 1/(r+1)^s. */
final class Zipf(n: Int, exponent: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, exponent))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def rank(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Vocab {
  private val cache = new ConcurrentHashMap[(Long, Int), Vocab]()

  /** One vocabulary per (seed, size) per JVM: the driver and the
    * executor-side generators see the same words. */
  def of(seed: Long, size: Int): Vocab =
    cache.computeIfAbsent((seed, size), k => new Vocab(k._1, k._2, 1.07))

  /** Stable 64-bit hash (FNV-1a, then mixed) of a string under a seed. */
  def hash(seed: Long, s: String): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  def rng(seed: Long, s: String): SplittableRandom = new SplittableRandom(hash(seed, s))
}
