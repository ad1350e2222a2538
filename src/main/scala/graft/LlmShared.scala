package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared across the LLM-pipeline query families (DedupQueries /
  * SimilarityQueries / TextQueries / MultimodalQueries / PipelineQueries):
  * table loading, per-invocation staging dirs, the collision-free planted-id
  * offset, the shared near-dup corpus, and the DuckDB quality-score form. */
private[graft] object LlmShared {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Per-(dir, pid) staging path under java.io.tmpdir for queries that
    * round-trip through files (j01/j02/j03), registered ONCE for recursive
    * delete at JVM exit — repeated verify/bench runs accumulate no /tmp
    * garbage (ADVICE r9), while the files stay alive for the whole session
    * (the returned DataFrames are lazy; deleting at the end of the builder
    * would break the later action). */
  private val stagingRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def staging(prefix: String, dir: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_${prefix}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") +
      s"_${ProcessHandle.current().pid()}"
    if (stagingRegistered.add(path)) Verify.deleteAtExit(path)
    path
  }

  /** Smallest id strictly above every historical doc_id — the collision-free
    * offset for synthetic batch ids (planted copies at `off·k + doc_id`).
    * Derived from the DATA (one scalar aggregate), not a hard-coded
    * 1 000 000: at a scale factor where doc_ids exceed a fixed constant the
    * ranges would collide and range-based gate classification would
    * silently misclassify (ADVICE r9). The oracle derives the same scalar
    * via `(SELECT MAX(doc_id)+1 FROM documents)`. */
  private[graft] def idOffset(hist: DataFrame): Long =
    hist.agg(max(col("doc_id"))).head.getLong(0) + 1

  /** The collision-free offset the near-dup marker injection uses — derived
    * from the data like [[idOffset]], NOT the old hard-coded 1 000 000:
    * amplified corpora (sf10 = 100× sf0.1) push real doc_ids past any fixed
    * constant, and a collision silently turns real docs into "markers" in
    * every recall gate. Queries that classify by id range recompute this
    * same scalar; the oracles derive it as `(SELECT MAX(doc_id) + 1 FROM
    * documents)`.
    *
    * Memoized per (session, dir): ~20 gated queries each derive the same
    * scalar during construction, and at rehearsal scale each derivation is
    * a full single-column scan (VERDICT r11 minor). The corpus dirs are
    * immutable test fixtures, so a cached offset can never go stale within
    * a session; keying by session too keeps a restarted session (new
    * catalog, maybe re-generated dir) from inheriting a dead one's value. */
  // WEAK keys, not a strong (session, dir) tuple map: a session is a
  // heavyweight object (state, caches, listener refs) and a strong map key
  // would pin every session that ever derived an offset for the JVM
  // lifetime (ADVICE r12). WeakHashMap uses identity here (SparkSession
  // doesn't override equals), so a restarted session still never inherits
  // a dead one's value; the per-session inner map holds no session ref.
  private val markerOffsetCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()
  private[graft] def markerOffset(s: SparkSession, dir: String): Long = {
    val per = markerOffsetCache.synchronized {
      var m = markerOffsetCache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
        markerOffsetCache.put(s, m)
      }
      m
    }
    per.computeIfAbsent(dir, _ => idOffset(t(s, dir, "documents"))).longValue()
  }

  /** near-identical variants: append one token — high but <1 Jaccard. */
  private[graft] def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = markerOffset(s, dir)
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" graftmarker")).as("text")))
  }

  /** The DuckDB form of `TextOps.qualityScore`, shared by the t01 and t07
    * oracles so the two can never silently drift. Expects `text`, `n_punct`
    * and `sw_hits` in scope; the token count expression is a parameter
    * (t01 precomputes `n_tokens`, t07 uses `len(tk)` inline). */
  private[graft] def qualitySqlExpr(nTok: String): String =
    "round(\n" +
    "    (CASE WHEN length(text) < 100 THEN length(text) / 100.0\n" +
    "          WHEN length(text) > 20000 THEN 0.5 ELSE 1.0 END) * 0.4 +\n" +
    "    (CASE WHEN length(text) = 0 THEN 1.0\n" +
    "          WHEN CAST(n_punct AS DOUBLE) / length(text) > 0.2\n" +
    "          THEN 0.3 ELSE 1.0 END) * 0.3 +\n" +
    s"    (CASE WHEN $nTok = 0 THEN 0.5\n" +
    s"          WHEN CAST(sw_hits AS DOUBLE) / $nTok >= 0.05 AND\n" +
    s"               CAST(sw_hits AS DOUBLE) / $nTok <= 0.6\n" +
    "          THEN 1.0 ELSE 0.5 END) * 0.3, 6)"
}
