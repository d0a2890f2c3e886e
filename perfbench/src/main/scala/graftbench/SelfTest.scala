package graftbench

import java.io.File

import graft.core.{Direction, SkylineCore}
import graft.operators.SkylineOps._

/**
 * The benchmark's own checks:
 *  - the percentile and interval-union helpers are exact on known inputs;
 *  - the oracle agrees with a quadratic brute force and with
 *    `SkylineCore.skylineOf` on small seeded sets full of duplicates and
 *    ties, over MIN and MAX dimensions;
 *  - the generator is a fixed function of the seed, and writes the same
 *    parquet bytes for the same seed;
 *  - the engine's `skyline(...)` over generated parquet matches the oracle.
 *
 * usage: graftbench.SelfTest --work DIR   (exit code 1 on any failure)
 */
object SelfTest {
  private var checks = 0
  private var failures = 0

  private def expect(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) { failures += 1; System.err.println(s"[selftest] FAIL: $what") }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))

  def stats(): Unit = {
    val cases = Seq(
      (Seq(1.0, 2.0, 3.0, 4.0), 0.5, 2.5),
      (Seq(4.0, 1.0, 3.0, 2.0), 0.5, 2.5),
      (Seq(3.0, 1.0, 2.0), 0.5, 2.0),
      ((1 to 10).map(_.toDouble), 0.9, 9.1),
      ((1 to 11).map(_.toDouble), 0.9, 10.0),
      ((1 to 101).map(_.toDouble), 0.9, 91.0),
      (Seq(7.0), 0.9, 7.0),
      (Seq(5.0, 1.0), 0.0, 1.0),
      (Seq(5.0, 1.0), 1.0, 5.0),
      (Seq(0.0, 10.0), 0.25, 2.5))
    cases.foreach { case (xs, q, want) =>
      val got = Stats.percentile(xs, q)
      expect(close(got, want), s"percentile($xs, $q) = $got, want $want")
    }
    val unions = Seq(
      (Seq.empty[(Long, Long)], 0L),
      (Seq((0L, 10L)), 10L),
      (Seq((0L, 10L), (5L, 15L)), 15L),
      (Seq((20L, 30L), (0L, 10L)), 20L),
      (Seq((0L, 10L), (2L, 3L), (10L, 12L)), 12L))
    unions.foreach { case (iv, want) =>
      expect(Stats.unionLength(iv) == want, s"unionLength($iv) = ${Stats.unionLength(iv)}, want $want")
    }
  }

  def oracle(): Unit = {
    val rnd = new java.util.Random(7)
    for (d <- 1 to 4; n <- Seq(0, 1, 2, 10, 200); trial <- 0 until 4) {
      // four values per axis: duplicates and ties on every dimension
      val pts = Seq.fill(n)(Array.fill(d)(rnd.nextInt(4) * 0.25))
      val minDir = Array.tabulate(d)(j => (j + trial) % 2 == 0)
      val want = Oracle.frontier(Oracle.bruteForce(pts, minDir))
      val bnl = Oracle.frontier(Oracle.skyline(pts.iterator, minDir))
      val eng = Oracle.frontier(SkylineCore.skylineOf(pts.iterator, minDir))
      val dirs = minDir.map(if (_) "MIN" else "MAX").mkString(",")
      expect(bnl == want, s"oracle BNL d=$d n=$n dirs=$dirs: $bnl, brute force $want")
      expect(eng == want, s"SkylineCore.skylineOf d=$d n=$n dirs=$dirs: $eng, brute force $want")
    }
    expect(Oracle.frontier(Seq(Array(-0.0, 1.0))) == Oracle.frontier(Seq(Array(0.0, 1.0))),
      "hash folds -0.0 into 0.0")
    val two = Seq(Array(1.0, 2.0), Array(3.0, 4.0))
    expect(Oracle.frontier(two) == Oracle.frontier(two.reverse), "hash is order-independent")
  }

  def generator(work: File): Unit = {
    // Pinned: a change here changes every workload's data.
    val b = Gen.base(1L, 1L)
    val got = Seq(Gen.coord(b, 0, 0), Gen.coord(b, 0, 2), Gen.coord(b, 12345, 1))
    val pinned = Seq(PinnedCoords: _*)
    expect(got == pinned, s"generator coordinates for seed 1 moved: $got, pinned $pinned")
    expect(Gen.base(1L, 1L) != Gen.base(2L, 1L) && Gen.base(1L, 1L) != Gen.base(1L, 2L),
      "seeds and salts give distinct streams")

    val spark = Main.session(2, work)
    try {
      val spec = DataSpec(30000L, 3, 3)
      def written(seed: Long, name: String): File = {
        val dir = new File(work, name)
        Gen.write(spark, spec, Gen.base(seed, 9L), dir)
        dir
      }
      val (a, b2, c) = (written(5L, "a"), written(5L, "b"), written(6L, "c"))
      expect(Gen.dataFiles(a).length == spec.files, s"expected ${spec.files} files in $a")
      expect(Gen.digest(a) == Gen.digest(b2), "same seed wrote different parquet bytes")
      expect(Gen.digest(a) != Gen.digest(c), "different seeds wrote the same parquet bytes")

      // the parquet holds exactly the generated points, file by file
      val f1 = Gen.dataFiles(a)(1).getPath
      val (lo, hi) = spec.rows(1)
      val back = spark.read.parquet(f1).collect().map(r => Array.tabulate(3)(r.getDouble)).toSeq
      val regen = (lo until hi).map(Gen.point(Gen.base(5L, 9L), 3, _))
      expect(back.length == regen.length && back.zip(regen).forall { case (x, y) => x.sameElements(y) },
        "file 1 does not hold ids [lo, hi) in order")

      // the engine over the parquet matches the oracle, MIN and MAX mixed
      val df = spark.read.parquet(a.getPath)
      val minDir = Array(true, false, true)
      val dims = spec.columns.zip(minDir).map { case (c, m) => c -> (if (m) Direction.Min else Direction.Max) }
      val eng = Oracle.frontier(df.skyline(dims).collect().map(r => Array.tabulate(3)(r.getDouble)).toSeq)
      val want = Oracle.frontier(Oracle.skylineOfIds(Gen.base(5L, 9L), 3, spec.n, minDir, 2))
      expect(eng == want, s"engine skyline $eng, oracle $want")
    } finally spark.stop()
  }

  private val PinnedCoords: Seq[Double] =
    Seq(0.2659001520260582, 0.760112297519629, 0.6691594054708774)

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", w) => new File(w) }
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    stats()
    oracle()
    generator(work)
    println(Json.obj("selftest" -> (if (failures == 0) "ok" else "failed"),
      "checks" -> checks, "failures" -> failures))
    sys.exit(if (failures == 0) 0 else 1)
  }
}
