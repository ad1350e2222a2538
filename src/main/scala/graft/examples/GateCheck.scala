package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** Re-proves every SELF-VERIFYING query's in-query gate at an arbitrary
  * scale directory: runs each gated query and asserts every BOOLEAN
  * column (the recall/error/bound gates all surface as booleans —
  * recall_ok, est_ok, superset_ok, …) is true on every row. Used for the
  * sf1 rehearsal, where the DuckDB oracle doesn't run but the gates must
  * still hold with dials unchanged. Runs through [[graft.Verify.suite]],
  * so queries go in name order and `SPARK_GRAFT_ONLY` narrows the set.
  * Exits 1 when any checked query is red, or has no gate column at all.
  * Run: sbt 'runMain graft.examples.GateCheck <sfDir> [query...]'. */
object GateCheck {
  val gated = Seq(
    "d02_minhash_lsh_pairs", "d03_simhash_pairs", "d12_bloom_decontaminate",
    // capped representative pairing: vertex-set equality with the full
    // listing, s-1 rows per cluster, marker recall preserved
    "d28_capped_pairs",
    "q17_hll_sketches", "q30_approx_quantiles",
    "s02_cosine_topk_lsh", "s04_embed_neardup_lsh", "s05_cosine_topk_ivf",
    "s07_cosine_topk_ivf_int8", "s08_semantic_dedup", "s09_cosine_topk_ivf_pq",
    "s10_knn_graph", "s11_cosine_topk_jl", "s12_cosine_topk_imi",
    "s13_cosine_topk_ivfpq_res",
    // persisted-index lifecycle: train-once artifact + store search
    // recall, incremental append against a stale quantizer
    "s15_cosine_topk_ivfpq_store", "s16_cosine_topk_ivfpq_incr", "s17_cosine_topk_filtered_store",
    // the closed staleness loop: drift detected -> retrain-rotate ->
    // recall recovered on the drifted corpus through the alias cutover
    "s18_cosine_topk_rotate",
    // the remaining persisted-fit families: IVF-Flat / int8 / IMI store
    // searches (zero fit jobs), recall + store lifecycle gates
    "s19_cosine_topk_ivfflat_store", "s20_cosine_topk_int8_store",
    "s21_cosine_topk_imi_store",
    // shard-build-then-merge: merged-store recall + first-merge-commits
    // + replay-no-op lifecycle
    "s22_cosine_topk_merged_store",
    // self-healing streaming ingest: drift fires exactly once, recall
    // recovered through the cutover, replay stable across the rotation
    "m32_streaming_autorotate",
    // time-travel dedup audit: as-of-head kept set == the live read's
    "d30_store_asof",
    // time-travel index search: as-of slice row-identical to the
    // epoch-store twin, as-of head == live
    "s23_cosine_topk_asof",
    "t02_winnow_fingerprints", "t17_cms_counts", "t19_compress_signal",
    "mm05_image_ahash",
    // video near-dup store probe: the banded frame-0 candidate leg must
    // equal the in-query exhaustive frame-aligned twin (kept is DATA —
    // see gateColsOverride)
    "mm10_video_neardup",
    // exact contract gate (not an approximation bound): zero sources may
    // straddle splits, at any scale
    "d17_group_split",
    // planted-structure gates: near-dup recall bound + zero false drops
    "d18_incremental_neardup",
    // embedding sibling of d18: LSH-bucket probe recall + exact-cosine
    // verify zero false drops
    "d24_incremental_semantic_neardup",
    // embedding sibling of d21: vector-store ingest loop (batch-1
    // survival, store-grown recall, zero false drops, replay no-op,
    // store accounting)
    "d25_semantic_store_append",
    // store-append loop: replay no-op + store row accounting + two-step
    // equals one-shot
    "d19_store_append",
    // approx swap-ins gated against their exact twins (GK median/MAD, HLL
    // distinct)
    "d20_robust_outliers_gk", "dt03_profile_hll",
    // streamed store-dedup: full-backlog replay must be byte-stable
    "m19_streaming_store_dedup",
    // near-dup store ingest loop: batch-1 survival, store-grown recall,
    // zero false drops, replay no-op, store accounting
    "d21_neardup_store_append",
    // hashed-gram substring dedup must equal the string twin per doc
    "t24_substring_dedup_hashed",
    // streamed near-dup store ingest: recall bound, replay byte-stability,
    // store signature accounting
    "m20_streaming_neardup",
    // streamed SEMANTIC near-dup ingest (embedding sibling of m20)
    "m21_streaming_semantic_neardup",
    // streamed ANN index ingest: recall through the persisted quantizer,
    // segment accounting, byte-stable full-backlog replay
    "m29_streaming_index_ingest",
    // streamed VIDEO store dedup: deterministic keep/drop (pigeonhole-
    // exact probe), replay byte-stability, frame-level store accounting
    "m30_streaming_video_dedup",
    // audio near-dup store probe: frame-0 equality candidates must equal
    // the in-query exhaustive frame-aligned twin (kept is DATA — see
    // gateColsOverride)
    "mm11_audio_neardup",
    // streamed AUDIO store dedup: deterministic keep/drop (equality
    // probe, recall exactly 1), replay byte-stability, store accounting
    "m31_streaming_audio_dedup",
    // approximate curation pipeline: per-stage planted-structure gates
    "p02_curation_pipeline_approx",
    // streaming export pipeline: replay byte-stability + fingerprint
    // store accounting across the two-epoch backlog
    "p05_streaming_export",
    // export compaction under audit: membership/order bit-preserved
    // (d29 audit flags) + the one-file-per-shard physical claim
    "p06_export_compaction",
    // KMV theta sketch: union/intersection estimates vs the exact twin
    "q35_kmv_intersection",
    // quantizer staleness monitor: same-distribution batch must not
    // flag, planted-shift batch must
    "dt07_quantizer_drift",
    // incremental z-order maintenance: appends measurably degrade
    // per-file spans, the compact measurably restores them
    "q36_zorder_maintenance",
    // touched-tile incremental maintenance: untouched tile files must be
    // byte-stable through the compact (cost ∝ appends, not table size)
    "q37_zorder_incremental",
    // one-call alias maintenance: GC + staging sweep + yardstick bound +
    // horizon fold, with as-of/replay/search proven through it
    "m33_index_maintenance",
    // catalog-table z-order compaction through the committer seam:
    // untouched partition byte-stable across the swap, second pass quiet
    "m34_zorder_table",
    // leakage-safe cluster-aware split: no near-dup cluster may straddle
    // train/valid/test, at any scale (exact contract, like d17)
    "d32_cluster_split")

  /** Queries whose output carries PER-ROW boolean DATA alongside the
    * gate: only the listed columns are gates there (t24's `keep` is the
    * operator's keep/drop decision — at sf1 4 770 docs legitimately
    * exceed the 50% dup-position ratio, which is a RESULT, not a
    * failure). Default for every other query: all boolean columns. */
  val gateColsOverride: Map[String, Seq[String]] = Map(
    "t24_substring_dedup_hashed" -> Seq("hashed_identical"),
    "mm10_video_neardup" -> Seq("exact_ok"),
    "mm11_audio_neardup" -> Seq("exact_ok"))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val names = (if (args.length > 1) args.drop(1).toSeq else gated).toSet
    val unknown = names -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.Verify.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val green = graft.Verify.suite(spark,
        graft.SparkEntry.queries.filter { case (n, _) => names(n) }) {
        (name, fn) =>
      val t0 = System.nanoTime()
      val out = fn(spark, dir)
      val boolCols = gateColsOverride.getOrElse(name,
        out.schema.fields
          .filter(_.dataType == BooleanType).map(_.name).toSeq)
      // a gated query with no gate column proves nothing: its gate was
      // renamed or dropped, so it counts as red
      val fails =
        if (boolCols.isEmpty) None
        else Some(out
          .filter(boolCols.map(c => !coalesce(col(c), lit(false)))
            .reduce(_ || _))
          .count())
      val dt = (System.nanoTime() - t0) / 1e9
      val verdict = fails match {
        case None => "RED (no boolean gate column)"
        case Some(0L) => "GREEN"
        case Some(n) => s"RED ($n rows)"
      }
      println(f"[gate] $name%-26s ${boolCols.mkString(",")}%-22s " +
        f"$verdict%-12s $dt%6.1f s")
      fails.contains(0L)
    }
    val bad = green.count(!_._2)
    println(s"[gate] ${green.size} queries checked, $bad red")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
