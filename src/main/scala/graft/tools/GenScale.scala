package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: scale a driver testdata directory N× by unioning shifted
  * copies — the sf1 bench datapoint generator (BASELINE.md). Not part
  * of the engine; bench-only data (the DuckDB oracle still runs on the
  * driver's own sf directories).
  *
  * Scaling rules (chosen so per-query cost models stay interpretable):
  *   - join keys shift by a copy-specific stride on EVERY table that
  *     carries them, so referential integrity (orders→customer,
  *     lineitem→orders/part/supplier) holds within each copy and no
  *     cross-copy joins appear;
  *   - region/nation are fixed dimensions (real TPC-H does not scale
  *     them) — copied once;
  *   - documents get doc_id block-shifted AND every token suffixed
  *     `_c` per copy: cross-copy token sets are disjoint, so text
  *     dedup/similarity queries grow linearly in corpus size (a
  *     replicated corpus without perturbation would instead manufacture
  *     10-copy duplicate cliques and measure a fixture artifact);
  *     n_chars is recomputed from the perturbed text;
  *   - embeddings: vec_id block-shifts, and every copy c>0 is an EXACT
  *     ISOMETRY of the original — a per-copy seeded permutation of the
  *     dimensions with per-dim sign flips (float values bit-preserved,
  *     norms and intra-copy pairwise dots exact up to summation order)
  *     — with labels block-shifted per copy. Cross-copy cosines drop to
  *     noise (~N(0, 1/dim) for unit vectors), so the corpus's clusters
  *     and label buckets MULTIPLY with the copy count instead of
  *     deepening: a replicated-identical corpus manufactures quadratic
  *     bucket growth no real corpus has (r13 verdict ask #2), while a
  *     real 10× corpus adds clusters of the same depth — exactly what
  *     the isometry copies produce;
  *   - events keep their timestamps untouched in whatever form the
  *     installed Spark reads them (int64 raw nanos under the legacy
  *     conf, TIMESTAMP_NTZ natively on 4.1.2 — Tables.load normalizes
  *     both adaptively), event/user ids shift.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/data/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // Optional 4th arg: comma-separated table subset (regenerate one
    // table without rewriting the rest — e.g. after an embeddings-rule
    // change, `... data/sf10 100 embeddings`).
    val onlyTables: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    // Optional 5th arg: first copy index (default 0). Generating copies
    // [offset, offset+copies) yields a table DISJOINT from the
    // [0, offset) build — the "day-2 crawl" batch for the IngestBatch
    // lifecycle (e.g. `... /tmp/batch 1 documents,embeddings 10` is
    // exactly copy 10, id- and token-disjoint from the 10-copy sf1).
    val copyOffset = if (args.length > 4) args(4).toInt else 0
    // Optional 6th arg: isometry seed salt (default 0 = the historical
    // seeds). CASCADED scaling hazard (r16): when src is ITSELF a
    // GenScale clone, the outer copy c of src's copy-0 block is
    // isometry(c) of the original — the SAME operator as src's own
    // internal copy c (the seed formula depends only on c) — so an
    // unsalted cascade manufactures exact-duplicate cliques across
    // blocks (cos = 1.0 pairs), precisely the fixture artifact the
    // isometry design exists to avoid. A nonzero salt makes every outer
    // seed fresh; compositions of fresh isometries over src's internal
    // ones are new isometries, so cross-block cosines stay noise, while
    // ids keep the dense 0-based layout a standalone corpus needs
    // (e.g. sf100 from the 100-copy sf10: copies 0-9, salt 1).
    val seedSalt = if (args.length > 5) args(5).toLong else 0L
    def want(n: String): Boolean = onlyTables.isEmpty || onlyTables(n)
    val cpus = graft.Harness.cpus(16)
    val spark = graft.Harness.session(cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val S = 10000000L // key stride, far above every sf0.1 key range
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    // File-layout discipline, both axes measured on this runner:
    //   - COUNT: a union of N copies inherits N× the source's file count —
    //     for the single-file driver tables that means a 10× table with 10
    //     files, capping scan parallelism at 10 tasks on a 32-core runner
    //     and reading as a fake super-linear ratio on scan-bound queries
    //     (a3: 10.5 µs/row on a 10-file sf1 vs 2.4 µs/row at 100 files).
    //   - ORDER: a plain round-robin repartition destroys intra-file key
    //     clustering, and the window/dedup family pays for it genuinely
    //     (i18 11.4 s → 143.5 s at sf1: random key order defeats the
    //     sort's adaptivity, parquet RLE, and row-group stats).
    // Real deployments have BOTH properties — file count sized to the
    // cluster AND files covering contiguous ingest-key ranges — so scaled
    // tables are written range-partitioned by their natural key, sorted
    // within each file.
    def write(name: String, df: DataFrame, sortKey: String): Unit = {
      if (!want(name)) { println(s"[genscale] $name: skipped (table filter)"); return }
      df.repartitionByRange(cpus, col(sortKey))
        .sortWithinPartitions(sortKey)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def scaled(name: String, sortKey: String)(tx: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(name)
      write(name,
        (copyOffset until copyOffset + copies).map(c => tx(base, c))
          .reduce(_ unionByName _),
        sortKey)
    }
    def shiftCols(d: DataFrame, c: Int, cols: String*): DataFrame =
      cols.foldLeft(d)((acc, n) => acc.withColumn(n, col(n) + c * S))

    write("region", read("region"), "r_regionkey")
    write("nation", read("nation"), "n_nationkey")
    scaled("supplier", "s_suppkey")((d, c) => shiftCols(d, c, "s_suppkey"))
    scaled("customer", "c_custkey")((d, c) => shiftCols(d, c, "c_custkey"))
    scaled("part", "p_partkey")((d, c) => shiftCols(d, c, "p_partkey"))
    scaled("orders", "o_orderkey")((d, c) => shiftCols(d, c, "o_orderkey", "o_custkey"))
    scaled("lineitem", "l_orderkey")((d, c) =>
      shiftCols(d, c, "l_orderkey", "l_partkey", "l_suppkey"))
    scaled("events", "event_id")((d, c) => shiftCols(d, c, "event_id", "user_id"))

    // documents/embeddings shift by ROW COUNT (so copy 0 keeps the
    // driver's id range and the ≥400 incremental boundaries stay
    // meaningful); that is only collision-free when ids are dense and
    // 0-based — assert it rather than silently manufacture cross-copy
    // id clashes (which would read as exact-dup cliques downstream).
    def requireDense(name: String, idCol: String, n: Long): Unit = {
      val maxId = read(name).agg(max(col(idCol))).head.getLong(0)
      require(maxId < n,
        s"$name.$idCol must be dense 0-based for the row-count stride " +
          s"(max=$maxId, rows=$n); use an explicit stride instead")
    }
    val nDocs = read("documents").count()
    requireDense("documents", "doc_id", nDocs)
    scaled("documents", "doc_id") { (d, c) =>
      if (c == 0) d
      else {
        val txt = array_join(
          transform(split(col("text"), " "), t => concat(t, lit(s"_$c"))), " ")
        d.select(
          (col("doc_id") + c * nDocs).as("doc_id"),
          txt.as("text"), col("lang"), col("source"),
          length(txt).cast("long").as("n_chars"))
      }
    }
    // Embeddings: copy 0 verbatim; copy c>0 = exact isometry (seeded
    // per-copy dim permutation + sign flips — float values reordered and
    // negated, never recomputed) with block-shifted ids and labels. The
    // per-copy Random seed is fixed, so re-running reproduces the clone
    // bit-wise like every other table.
    val nVecs = read("embeddings").count()
    if (want("embeddings")) requireDense("embeddings", "vec_id", nVecs)
    val emb0 = read("embeddings")
    // getAs[Number] instead of getInt: the scaler must not depend on an
    // undeclared INT width — a fixture storing label (or size()) as
    // BIGINT would ClassCastException a bare getInt (ADVICE r14).
    val dim = emb0.select(max(size(col("embedding")))).head.getAs[Number](0).intValue
    val nLabels = emb0.agg(max(col("label"))).head.getAs[Number](0).intValue + 1
    def isometry(c: Int): org.apache.spark.sql.Column = {
      val rnd = new scala.util.Random(
        0x9E3779B97F4A7C15L ^ c.toLong ^ (seedSalt << 32))
      val perm = rnd.shuffle((0 until dim).toVector)
      val sign = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      array((0 until dim).map(i =>
        (element_at(col("embedding"), perm(i) + 1) * lit(sign(i))).cast("float")): _*)
    }
    scaled("embeddings", "vec_id")((d, c) =>
      if (c == 0) d
      else d.select(
        (col("vec_id") + c * nVecs).as("vec_id"),
        isometry(c).as("embedding"),
        (col("label") + lit(c * nLabels)).as("label")))

    spark.stop()
  }
}
