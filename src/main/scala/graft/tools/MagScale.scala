package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: the sf100-MAGNITUDE rig for the decimal-overflow regime
  * (VERDICT r18 ask #1).
  *
  * The headroom claims on the exact-arithmetic battery (c18's
  * decimal(38) Σ(price²), d18's cross-multiplied Chebyshev squares,
  * d20's decimal time-weighted sums, c14's weighted-median cumulations,
  * d15/d16's dyadic window sums, i88's milli-residual gradient) are
  * stated "through sf100", but the oracle had only ever adjudicated
  * them to sf10 — the regime where c18's Σ(price²) first crosses 2⁶³.
  * Cutting a literal sf100 slice (600 M lineitem rows) would cost more
  * disk than the claim needs: every named sum is (a) linear in rows at
  * fixed values and (b) quadratic in VALUE scale, so scaling the
  * magnitude-bearing columns ×10 at sf10's row counts reproduces —
  * and for the squared terms overshoots by 10× — the sf100 sum
  * magnitudes (rows ×10 with values fixed multiplies a squared-term
  * sum by 10; values ×10 at fixed rows multiplies it by 100).
  *
  * What gets scaled (×factor, default 10):
  *   - `lineitem.l_extendedprice` — c18's Σ(p²) lands at ~6e23
  *     (sf100's is ~6e22; decimal(38) caps at ~1e38), c14's value
  *     domain stretches ×10;
  *   - `events.value` — d15/d16 window sums ×10, d18's
  *     (n·x − Σx)² ×100 ≡ the sf100 season-size growth, d20's
  *     Σ(cents·µs) ×10;
  *   - `embeddings.embedding` — i88's xq and residual both ×10, so the
  *     Σ xq·rq gradient sum lands ×100 ≈ the sf1000-row magnitude,
  *     bounding the sf100 claim with margin.
  * Every other table symlinks to the source directory unchanged (the
  * oracle runner wants all ten views resolvable).
  *
  * The check is meaningful because the two engines CANNOT agree by
  * wrapping identically: Spark sums the flagged terms in decimal(38)
  * (or errors under ANSI on an int64 overflow), while DuckDB's
  * sum(BIGINT) promotes to HUGEINT — a silent wrap on either side
  * hash-mismatches against the other.
  *
  * Usage: MagScale <srcDir=data/sf10> <dstDir=data/sf100mag> [factor=10]
  */
object MagScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/repo/data/sf10"
    val dst = if (args.length > 1) args(1) else "/root/repo/data/sf100mag"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = graft.Harness.cpus(16)
    val spark = graft.Harness.session(cpus)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // Keep GenScale's file-layout discipline: range-partitioned by the
    // natural key, sorted within files (the i18 lesson — random key
    // order defeats RLE, row-group stats and the sort's adaptivity).
    def write(name: String, df: DataFrame, sortKey: String): Unit = {
      df.repartitionByRange(cpus, col(sortKey))
        .sortWithinPartitions(sortKey)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[magscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows (scaled x$factor)")
    }

    write("lineitem",
      read("lineitem").withColumn("l_extendedprice", col("l_extendedprice") * factor),
      "l_orderkey")
    write("events",
      read("events").withColumn("value", col("value") * factor),
      "event_id")
    write("embeddings",
      read("embeddings").withColumn("embedding",
        transform(col("embedding"), e => (e * factor).cast("float"))),
      "vec_id")

    val passthrough = Seq("region", "nation", "customer", "supplier",
      "part", "orders", "documents")
    passthrough.foreach { t =>
      val link = java.nio.file.Paths.get(s"$dst/$t.parquet")
      // A prior run (or a copy-based rig) may have left a REAL parquet
      // directory at the link path; deleteIfExists throws
      // DirectoryNotEmptyException on it (ADVICE r19). Remove it
      // recursively — it is this tool's own output location — before
      // placing the symlink.
      if (java.nio.file.Files.isDirectory(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(link).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.delete)
      } else java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(s"$src/$t.parquet").toAbsolutePath)
      println(s"[magscale] $t: symlinked")
    }
    spark.stop()
  }
}
