package graftbench

import scala.collection.mutable.ArrayBuffer

/** A frontier as the checks compare it: its size and an order-independent
  * hash of its points. */
final case class Frontier(size: Int, hash: Long) {
  def hashHex: String = java.lang.Long.toHexString(hash)
}

/**
 * The benchmark's own skyline oracle. It shares no code with the engine
 * (nothing here imports `graft`), so an engine defect cannot hide in the
 * check. Semantics: `a` dominates `b` iff `a` is no worse on every
 * dimension and better on at least one; exact duplicates count once.
 */
object Oracle {

  def dominates(a: Array[Double], b: Array[Double], minDir: Array[Boolean]): Boolean = {
    var strict = false
    var j = 0
    while (j < a.length) {
      val x = a(j); val y = b(j)
      if (x != y) {
        if (minDir(j) != (x < y)) return false
        strict = true
      }
      j += 1
    }
    strict
  }

  private def same(a: Array[Double], b: Array[Double]): Boolean = {
    var j = 0
    while (j < a.length) { if (a(j) != b(j)) return false; j += 1 }
    true
  }

  /** Block-nested-loop window with no size limit: exact for any input
    * order. */
  final class Window(minDir: Array[Boolean]) {
    val points = ArrayBuffer.empty[Array[Double]]
    def add(p: Array[Double]): Unit = {
      var i = 0
      while (i < points.length) {
        val q = points(i)
        if (dominates(q, p, minDir) || same(q, p)) return
        i += 1
      }
      points.filterInPlace(q => !dominates(p, q, minDir))
      points += p
    }
  }

  def skyline(points: Iterator[Array[Double]], minDir: Array[Boolean]): Seq[Array[Double]] = {
    val w = new Window(minDir)
    points.foreach(w.add)
    w.points.toSeq
  }

  /** Quadratic definition-level skyline, for the self-tests. */
  def bruteForce(points: Seq[Array[Double]], minDir: Array[Boolean]): Seq[Array[Double]] = {
    val kept = points.filter(p => !points.exists(q => dominates(q, p, minDir)))
    kept.foldLeft(List.empty[Array[Double]])((acc, p) =>
      if (acc.exists(same(_, p))) acc else p :: acc).reverse
  }

  /** Skyline of generated ids `[0, n)`, computed on `threads` threads over
    * contiguous id ranges and merged; nothing is read from disk. */
  def skylineOfIds(base: Long, d: Int, n: Long, minDir: Array[Boolean],
      threads: Int): Seq[Array[Double]] = {
    val parts = new Array[Seq[Array[Double]]](threads)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        val (lo, hi) = (n * t / threads, n * (t + 1) / threads)
        parts(t) = skyline(Iterator.range(0, (hi - lo).toInt)
          .map(i => Gen.point(base, d, lo + i)), minDir)
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    require(parts.forall(_ != null), "oracle worker failed")
    skyline(parts.iterator.flatten, minDir)
  }

  /** Order-independent hash: the sum of a per-point mix. `-0.0` is folded
    * into `0.0`, which compares equal to it. */
  def frontier(points: Iterable[Array[Double]]): Frontier = {
    var h = 0L
    var n = 0
    points.foreach { p =>
      var x = 0x5EEDL
      p.foreach(v => x = Gen.mix(x ^ java.lang.Double.doubleToLongBits(v + 0.0)))
      h += x
      n += 1
    }
    Frontier(n, h)
  }
}
