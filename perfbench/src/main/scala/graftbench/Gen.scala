package graftbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, lit, shiftrightunsigned, xxhash64}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** One data set: `n` points in [0,1)^d, split evenly over `files`
  * parquet files (file `f` holds the ids of [[rows]]`(f)`, in id order). */
final case class DataSpec(n: Long, d: Int, files: Int) {
  def rows(f: Int): (Long, Long) = (n * f / files, n * (f + 1) / files)
  def columns: Seq[String] = (0 until d).map(j => s"x$j")
  def schema: StructType =
    StructType(columns.map(StructField(_, DoubleType, nullable = false)))
}

/** What the generator wrote for one (workload, seed). */
final case class Fingerprint(spec: DataSpec, bytes: Long, expected: Frontier) {
  def json: String = Json.obj(
    "n" -> spec.n, "d" -> spec.d, "files" -> spec.files, "bytes" -> bytes,
    "frontier_size" -> expected.size, "frontier_hash" -> expected.hashHex)
}

/**
 * Seeded point generator, kept apart from the engine: it imports nothing
 * from `graft`. Coordinate `j` of point `id` is a pure function of
 * (seed, id, j) — Spark's `xxhash64` of the three — so the same seed
 * gives the same points under any partitioning, the write runs as one
 * code-generated Spark projection, and the oracle can regenerate any id
 * range without reading the parquet back.
 */
object Gen {
  private val Ulp53 = 1.0 / (1L << 53)
  /** `xxhash64`'s fixed seed: it folds its arguments left to right,
    * each hashed with the running value as its seed. */
  private val HashSeed = 42L

  /** SplitMix64's finalizer: a bijective 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Stream base for one (seed, salt) pair; workloads use distinct salts. */
  def base(seed: Long, salt: Long): Long = mix(seed * 0x9E3779B97F4A7C15L + salt)

  /** Uniform in [0, 1), 53 bits of `xxhash64(base, id, j)`. */
  def coord(base: Long, id: Long, j: Int): Double =
    (XXH64.hashLong(j.toLong, XXH64.hashLong(id, XXH64.hashLong(base, HashSeed))) >>> 11) * Ulp53

  def point(base: Long, d: Int, id: Long): Array[Double] = {
    val p = new Array[Double](d)
    var j = 0
    while (j < d) { p(j) = coord(base, id, j); j += 1 }
    p
  }

  /** Write the data set as `spec.files` parquet files under `dir`. */
  def write(spark: SparkSession, spec: DataSpec, base: Long, dir: File): Unit = {
    val cols = spec.columns.zipWithIndex.map { case (c, j) =>
      (shiftrightunsigned(xxhash64(lit(base), col("id"), lit(j.toLong)), 11).cast("double") *
        lit(Ulp53)).as(c)
    }
    spark.range(0, spec.n, 1, spec.files).select(cols: _*)
      .write.mode("overwrite")
      // random doubles neither dictionary-encode nor compress
      .option("parquet.enable.dictionary", "false").option("compression", "none")
      .parquet(dir.getPath)
  }

  /** The data files of a written set, in partition order. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  def bytes(dir: File): Long = dataFiles(dir).map(_.length).sum

  /** SHA-256 over the files' contents in partition order (file names
    * carry a per-write UUID, so they are left out). */
  def digest(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    dataFiles(dir).foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    md.digest().map("%02x".format(_)).mkString
  }
}
