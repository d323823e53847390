package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans of headline queries to
  * PLANS.md — the plan-quality evidence (pushdown, pruning, codegen
  * spans, join strategy) reviewed alongside BENCH numbers. Regenerate
  * after planner-relevant changes: `sbt "runMain graft.Plans"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.fromEnv("graft-plans")
    val picks: Seq[(String, String)] = Seq(
      "q01_pricing_summary" ->
        "Scan→partial agg→1 shuffle→final agg. ReadSchema carries only the 7 used lineitem columns; whole-stage codegen spans scan..partial-agg.",
      "q08_join_lineitem_part" ->
        "No broadcast hint in the code: AQE picks the join strategy from runtime sizes (a hardcoded broadcast(part) would OOM at 100x — round-1 fix).",
      "q17_predicates" ->
        "PushedFilters shows the predicates reaching the parquet scan.",
      "q45_month_partition_pruning" ->
        "Read side of the partitioned ingest: PartitionFilters prunes to __yyyymm=199501 — the non-matching months are never opened.",
      "q49_ann_ivf" ->
        "IVF assignment is a narrow codegen'd projection (NearestCentroids over the BROADCAST centroid matrix — the plan holds one reference, not k×dim literals) — no exchange between the embeddings scan and the inverted-list build; the only shuffles are the final per-query top-k windows.",
      "q31_minhash_pairs" ->
        "One InMemoryRelation (the band table) feeds both self-join sides; shingle+minhash natives run inside whole-stage codegen in a single pass before the exchange.",
      "q52_salted_agg" ->
        "Two-stage skew-salted aggregate: the first shuffle is on (key, salt), the second combines the 16 partials per key — no single hot reducer.",
      "q68_incremental_dedup" ->
        "Shard bands join the corpus index on (band, bh); work scales with the shard side. At deploy the corpus side is a bucket-partitioned table, removing its exchange too.",
      "q70_two_stage_ann" ->
        "Two-stage retrieval: the shortlist window shuffles narrow (qid, nid, csim) rows — no vector payloads — and survivors fetch vectors via a broadcast join back to the corpus before the exact rerank.",
      "q71_line_dedup" ->
        "C4 line-level dedup: one explode (narrow), one hash-count shuffle on the 60-bit line hash, a shuffled hash join back, one reassembly shuffle on doc_id. No pairwise comparisons anywhere — work is linear in corpus lines.",
      "q72_bloom_decontam" ->
        "Bloom decontamination: the corpus-shingle scan feeds a Filter whose bit tests are constant-folded literals (the Bloom words) — Bloom-negatives die map-side inside codegen, before the exchange; only Bloom-positives reach the exact confirm join.",
      "q73_sequence_packing" ->
        "Distributed prefix sum: the window runs partitionBy(__pid) — parallel per-partition cumsums, never a single-partition global window; the cross-partition offsets are a tiny driver-side prefix folded back as literals.",
      "q79_domain_cap" ->
        "Per-domain cap: ONE hash exchange on the domain key feeding a row_number window — the same shape as ingest dedup, so AQE skew split covers hot domains; ReadSchema carries only the three projected columns.",
      "q80_sketch_union" ->
        "Mergeable sketches: per-shard HLL build is a partial aggregate (objHashAggregate) before its exchange; the union stage exchanges only 8 sketch blobs — distinct counting at 100 TB without a global exact-distinct shuffle.",
      "q83_kmeans" ->
        "k-means M-step (the E-step argmin is a codegen'd NearestCentroids projection over BROADCAST centroids with NO join — no exchange between the embeddings scan and the assignment, plan size O(1) in k×dim): the only data shuffle is the (cid, dim) partial-agg exchange; decimal sums make the means partition-order independent.",
      "q97_ivf_pq" ->
        "Composed IVF-PQ index: ONE corpus projection computes the coarse cid + all m PQ codes (broadcast NearestCentroids kernels, no literals), vectors are dropped before the probe join, and ADC scoring reads codes only — the narrow rows crossing the join are (cid, nid, __c0..__c7). The ADC lookup tables ride a Broadcast through the native adc_score kernel (round 7) — plan size O(1) in m×ks×dsub, the last plan-literal site retired.",
      "q96_pq_ann" ->
        "PQ residency scoring: encode is one narrow projection of m broadcast argmin kernels, and adc_score(qv, array(codes), Broadcast) scores against broadcast codebook tables inside whole-stage codegen — at production ks=256 the plan holds ONE broadcast handle where the typedLit form re-entered ~260k doubles.",
      "q38_lang_id" ->
        "Staged text profiling: split(text) appears ONCE in the plan — the staged profileCounts projection defeats CollapseProject's per-reference re-inline (the measured 78-copies trap that made q38 the slowest text gate); the group-by exchange carries one narrow string column.",
      "q104_correlated_scalar" ->
        "Correlated scalar subquery submitted as raw SQL: Catalyst decorrelates it into a per-partkey aggregate JOINED back — no subquery node survives to execution, lineitem is scanned once for all thresholds instead of once per outer row.",
      "q87_window_suite" ->
        "Three window functions, ONE sort per frame: lead and first_value share the (user_id | ts, event_id) Window node after a single hash exchange; percent_rank gets its own (event_type | value) frame. No global sort anywhere.",
      "q110_quality_constraints" ->
        "Six data-quality constraints, ONE scan: every check compiles into the same aggregate pass (two distinct aggregates ride one Expand, not extra scans), then a one-row inline unpivot to the long report — adding a constraint never adds a table pass.",
      "q125_merge_schema_evolution" ->
        "Evolved-table read: ONE parquet scan whose ReadSchema is the union schema from a single manifest line — no mergeSchema (which would footer-sweep every data file at planning time), no per-dir plan branches; the two cold dirs null-fill o_channel inside the scan.",
      "q126_cdf_incremental_rollup" ->
        "CDF-maintained rollup read: the plan aggregates PARTIAL STATE parts (rows ∝ groups × parts) — no orders scan anywhere in it, which is the whole point: the base table was maintained into the rollup via the change feed, never rescanned.",
      "q144_sql_skipping" ->
        "SQL text over a graft table (round-11 surface): the WHERE clause pruned the plan to 3 month dirs of ~80 via manifest stats BEFORE any file listing — the parquet relation holds only the kept dirs — and the date predicate is re-pushed into the expansion, so it still reaches the scan as PushedFilters with the ReadSchema pruned to the used columns.",
      "DV_read_lineage" ->
        "Deletion-vector read (dumped as its lineage: a dv'd dir read through readDirsOf): the DV applies as ONE Filter NOT dv_deleted(_metadata.file_path, keys) inside the scan's codegen stage — no join, no exchange, no broadcast; the DV's key set rides the generated code as a reference object, read once per DV on the driver (no Spark job) and cached, so a repeat read runs the jobs of the same read without DVs and a DV of other keys reuses the compiled class. dv'd dirs are GROUPED by key-set: one scan + one filter per group, the filter mapping each file to its owning dir once per file — at 96 dv'd dirs the plan still holds a single filter. The dir scan keeps its explicit ReadSchema; the filter runs after the scan, so parquet pushdown of the query's own predicates is untouched.",
      "q137_ann_incremental" ->
        "Maintained-LSH-index probe: the band index reads through the manifest with its deletion vector applied as one in-scan DV filter (no join, no job once the DV is cached); the 4-query side is explicitly broadcast into the bucket join, and cosine + the top-5 window shuffle only (qid, nid, sim) rows — the index maintenance itself (DV delete + signature append) never appears because it touched O(changes), not the corpus.",
      "q138_ivf_incremental" ->
        "Maintained-IVF-lists probe: assignment of the post-merge queries is the same broadcast NearestCentroids projection as q49 (no exchange, O(1) plan size in k x dim); the persisted (nid, cid) lists join vectors back from the corpus read, and the probe side broadcasts — vectors never lived in the index rows, so the lists stay narrow at any corpus width.",
      "W1_dedup_latest_lineage" ->
        "Latest-version dedup (the q11/q40/ingest W1 kernel, dumped as its lineage): the max_by AGGREGATE form (round 8) — a partial aggregate BEFORE the key exchange keeps one row per key per map task, so a hot key ships #tasks rows to its reducer instead of every duplicate; the old row_number form had a Window after the exchange funneling the whole key through one task (measured 6.7x on a 50%-one-key shape, SCALE.md). No Window node anywhere; ReadSchema carries only the used columns.")
    // W1 is special-cased: the gates run the dedup imperatively inside an
    // ingest and return the read-back, so the interesting plan is the
    // dedup LINEAGE itself, built here directly.
    def buildDf(name: String): org.apache.spark.sql.DataFrame =
      if (name == "W1_dedup_latest_lineage")
        graft.ingest.Ingest.dedupLatest(
          Tables.load(spark, dir, "events"),
          Seq("user_id"), Some("ts"), Seq("event_id"))
      else if (name == "DV_read_lineage") {
        // a small dv'd table built in scratch, read through the DV path
        import org.apache.spark.sql.functions.col
        val root = GraftTmp.dir("plans_dv_") + "/t"
        val orders = Tables.load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val dirs = graft.ingest.ManifestCommit.writeData(spark, root, orders,
          None, Seq("o_orderkey"))
        graft.ingest.ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
          pruneDisplaced = false, stats = dirs.toMap)
        graft.ingest.MergeInto.deleteWhere(spark, root,
          orders.filter(col("o_orderkey") % 97 === 0).select("o_orderkey"))
        graft.ingest.ManifestCommit.read(spark, root)
      }
      else SparkEntry.queries(name)(spark, dir)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$dir` (regenerate after planner-relevant\n")
    sb.append("changes). Annotations state what the plan must show to hold at 100 TB.\n")
    picks.foreach { case (name, note) =>
      val df = buildDf(name)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      // keep the operator tree + the scan details; drop the long column
      // lists of every intermediate node to stay reviewable
      val lines = plan.linesIterator.toSeq
      val tree = lines.takeWhile(_.trim.nonEmpty)
      sb.append(tree.mkString("\n")).append("\n")
      // keep each Scan node HEADER with its filter/schema lines so a
      // multi-scan plan shows which scan each predicate reached
      val details = lines.drop(tree.length).filter(l =>
        l.matches("^\\(\\d+\\) Scan parquet.*") || l.contains("PushedFilters") ||
          l.contains("PartitionFilters") || l.contains("ReadSchema"))
      if (details.nonEmpty)
        sb.append("\n-- scan details --\n").append(details.mkString("\n")).append("\n")
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${picks.size} queries)")
    GraftTmp.purge()
    spark.stop()
  }
}
