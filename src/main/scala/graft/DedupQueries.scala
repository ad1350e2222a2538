package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{CompressionSignal, Dedup, Multimodal, NumericQuality, Packing, Sampling, Similarity, Sketches, TextOps}
import graft.LlmShared.{t, staging, idOffset, docsWithNearDups, qualitySqlExpr}

/** Dedup / decontamination / sampling queries (d01–d29): exact,
  * MinHash-LSH, SimHash, n-gram Jaccard, cluster canonicalization, the
  * durable-store ingest loops, splits and samplers.
  * Split out of LlmQueries by family (r11) — pure move; the public surface
  * stays [[graft.LlmQueries.queries]] / [[graft.LlmQueries.oracleSql]]. */
private[graft] object DedupQueries {

  /** documents ∪ perturbed duplicates: every doc_id%5==0 doc reappears under
    * a derived collision-free offset with trailing whitespace (same
    * normalized content). */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = LlmShared.markerOffset(s, dir)
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + off).as("doc_id"), concat(col("text"), lit("  ")).as("text")))
  }

  private val docsWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
      |  text || '  ' AS text
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  // ------------------------------------------------------------ exact dedup

  private def d01(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithDups(s, dir)).orderBy(col("fp"))

  private val d01Sql =
    s"""WITH docs2 AS ($docsWithDupsSql)
       |SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       |       MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
       |FROM docs2 GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- d16 incremental dedup

  /** Incremental exact dedup of an ingest batch against the historical
    * corpus's fingerprint store (the production shape — a new crawl is
    * never deduped by re-scanning 100 TB of history). The batch carries
    * all three cases: whitespace-perturbed copies of history (dropped via
    * the store anti-join), genuinely new docs (kept), and a within-batch
    * duplicate pair of a new doc (collapsed to the lowest id,
    * dup_count 2). */
  private def d16(s: SparkSession, dir: String): DataFrame = {
    val hist = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = idOffset(hist)
    val batch = hist.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit("  ")).as("text"))
      .unionByName(hist.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2 * off).as("doc_id"),
          concat(lit("newdoc "), col("text")).as("text")))
      .unionByName(hist.filter(col("doc_id") % 35 === 0)
        .select((col("doc_id") + 3 * off).as("doc_id"),
          concat(lit("newdoc "), col("text"), lit(" ")).as("text")))
    Dedup.incrementalExact(batch, Dedup.fingerprintStore(hist))
      .orderBy(col("fp"))
  }

  private val d16Sql =
    """WITH hist AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT MAX(doc_id) + 1 AS o FROM hist),
      |batch AS (
      |  SELECT doc_id + (SELECT o FROM off) AS doc_id, text || '  ' AS text
      |    FROM hist WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * (SELECT o FROM off), 'newdoc ' || text
      |    FROM hist WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 3 * (SELECT o FROM off), 'newdoc ' || text || ' '
      |    FROM hist WHERE doc_id % 35 = 0),
      |store AS (SELECT DISTINCT
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM hist),
      |bf AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM batch)
      |SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
      |FROM bf WHERE fp NOT IN (SELECT fp FROM store)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- MinHash LSH

  /** MinHash-LSH near-dup pairs, SELF-VERIFYING: the query also computes
    * the exact n-gram-Jaccard twin and emits (exact pair count, recall ≥
    * 0.7 as a boolean), both DuckDB-reproducible — so the driver's hash
    * compare pins the approximate operator's recall instead of only its
    * row count. The gate's cost includes the exact twin by design. */
  private def d02(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: exact and approx both derive from the same Union
    // plan; joining them without breaking lineage can hit Catalyst's
    // UnionBase.rewriteConstraints `key not found: attr`
    val docs = docsWithNearDups(s, dir).localCheckpoint()
    val exact = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
      maxDf = 1000).select(col("id_a"), col("id_b"))
    val approx = Dedup.minhashNearDupPairs(docs, threshold = 0.5, k = 64,
      bands = 16).select(col("id_a"), col("id_b"), lit(1).as("hit"))
    exact.join(approx, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.7).as("recall_ok"))
  }

  // --------------------------------------------------------------- SimHash

  /** SimHash near-dup pairs, SELF-VERIFYING against the injected marker
    * duplicates (doc_id + derived offset with one appended token): emits the marker
    * count and marker-recall ≥ 0.6. */
  private def d03(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir).localCheckpoint()
    val off = LlmShared.markerOffset(s, dir)
    val pairs = Dedup.simhashNearDupPairs(docs, maxHamming = 3)
    val markers = docs.filter(col("doc_id") >= off)
      .agg(count(lit(1)).as("n_markers"))
    val found = pairs.filter(col("id_b") - col("id_a") === off)
      .agg(count(lit(1)).as("n_found"))
    markers.crossJoin(found)
      .select(col("n_markers"),
        (col("n_found").cast("double") / col("n_markers") >= 0.6)
          .as("recall_ok"))
  }

  private val d03Sql =
    """SELECT COUNT(*) AS n_markers, TRUE AS recall_ok
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  // -------------------------------------------------------- n-gram Jaccard

  private def d04(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), n = 3, threshold = 0.5,
        maxDf = 1000)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact-pair CTE shared by the d04 oracle and d02's recall gate. */
  private val jaccardPairsCte =
    """WITH docs2 AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
      |    text || ' graftmarker'
      |  FROM documents WHERE doc_id % 7 = 0),
      |toks AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tk
      |  FROM docs2),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
      |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
      |  UNION
      |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS shingle
      |  FROM toks WHERE len(tk) BETWEEN 1 AND 2),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b,
      |  round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
      |FROM shared
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5)""".stripMargin

  private val d04Sql =
    s"""$jaccardPairsCte
       |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin

  private val d02Sql =
    s"""$jaccardPairsCte
       |SELECT COUNT(*) AS n_exact, TRUE AS recall_ok FROM pairs""".stripMargin

  // ----------------------------------------- d05 duplicate-cluster resolve

  /** Near-dup PAIRS → connected components → per-doc cluster assignment
    * (the keep/drop decision artifact). Oracle: DuckDB recursive CTE over
    * the same pair list. */
  private def d05(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), n = 3,
      threshold = 0.5, maxDf = 1000)
    val cc = Dedup.connectedComponents(pairs)
    // cluster_size via aggregate + join, NOT count().over(Window): a window
    // partition funnels every member of a cluster into one task and AQE can
    // never split it, while a skewed join partition (one boilerplate mega-
    // cluster in crawl data) is split at runtime; the count aggregate itself
    // combines map-side
    val assign = cc.select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    val sizes = assign.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    assign.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Shared recursive-CTE chain (docs ∪ markers → shingles → pairs → CC
    * labels) used by the d05 and d09 oracles. */
  private val clusterCte =
    """WITH RECURSIVE docs2 AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
      |    text || ' graftmarker'
      |  FROM documents WHERE doc_id % 7 = 0),
      |toks AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tk
      |  FROM docs2),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
      |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
      |  UNION
      |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS shingle
      |  FROM toks WHERE len(tk) BETWEEN 1 AND 2),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM shared
      |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(node, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst),
      |labels AS (SELECT node AS doc_id, MIN(comp) AS cluster_id
      |  FROM reach GROUP BY 1)""".stripMargin

  private val d05Sql =
    s"""$clusterCte
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(cluster_id AS BIGINT) AS cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM labels ORDER BY doc_id""".stripMargin

  // ------------------------------------- d07 train/test contamination check

  /** Benchmark contamination: docs with doc_id%10==0 play the "test set";
    * per test doc, the fraction of its distinct 3-shingles occurring
    * anywhere in the train split. Spark joins on 64-bit shingle hashes;
    * the oracle joins on shingle strings — counts agree (collision-free at
    * corpus scale, same argument as d04). */
  private def d07(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    Dedup.containment(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), n = 3)
      .orderBy(col("doc_id"))
  }

  private val d07Sql =
    """WITH toks AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
      |  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
      |  UNION
      |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS shingle
      |  FROM toks WHERE len(tk) BETWEEN 1 AND 2),
      |train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
      |test AS (SELECT * FROM sh WHERE doc_id % 10 = 0)
      |SELECT t.doc_id, COUNT(*) AS n_sh,
      |  CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
      |  round(CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS containment
      |FROM test t LEFT JOIN train tr ON t.shingle = tr.shingle
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Decontamination, the split-then-purge pipeline: hash-split the corpus
    * (d06's proven md5 thresholds), then drop train docs whose 3-shingle
    * containment in the TEST split is ≥ 0.5. The oracle reproduces the
    * split expression, the shingle sets AND the keep/drop boundary. */
  private def d10(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val bySplit = Sampling.hashSplit(docs, col("text"), salt = "g1")
    Dedup.decontaminate(
        bySplit.filter(col("split") === "train").drop("split"),
        bySplit.filter(col("split") === "test").drop("split"),
        n = 3, threshold = 0.5)
      .select(col("doc_id"), col("containment"))
      .orderBy(col("doc_id"))
  }

  private val d10Sql =
    """WITH base AS (SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tk,
      |    CASE WHEN substring(md5('g1' || text), 1, 2) < 'cc' THEN 'train'
      |         WHEN substring(md5('g1' || text), 1, 2) < 'e6' THEN 'valid'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, split, array_to_string(tk[i:i+2], ' ') AS shingle
      |  FROM base, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
      |  UNION
      |  SELECT DISTINCT doc_id, split, array_to_string(tk, ' ') AS shingle
      |  FROM base WHERE len(tk) BETWEEN 1 AND 2),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
      |cont AS (SELECT s.doc_id,
      |    round(CAST(SUM(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END)
      |      AS DOUBLE) / COUNT(*), 6) AS containment
      |  FROM sh s LEFT JOIN ev ON s.shingle = ev.shingle
      |  WHERE s.split = 'train' GROUP BY 1)
      |SELECT b.doc_id, COALESCE(c.containment, 0.0) AS containment
      |FROM base b LEFT JOIN cont c USING (doc_id)
      |WHERE b.split = 'train' AND COALESCE(c.containment, 0.0) < 0.5
      |ORDER BY b.doc_id""".stripMargin

  /** Bloom-filtered decontamination, SELF-VERIFYING — the 100 TB scale
    * path for d10: train-side shingles probe a Bloom filter of the test
    * split (built as a `(word_idx, word)` bit_or-aggregate table, ≤ 4 MB
    * broadcast) instead of shuffle-joining the full eval shingle set. The
    * query computes the exact-join twin on the same splits and gates BOTH
    * Bloom guarantees in-query: no false negatives (every doc's bloom hit
    * count ≥ its exact hit count — a contaminated doc can never leak
    * through) and corpus FP rate ≤ 2%. The oracle reproduces the exact
    * counts and emits the gates as literals, so the driver hash-pins
    * them. */
  private def d12(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val bySplit = Sampling.hashSplit(docs, col("text"), salt = "g1")
    val train = bySplit.filter(col("split") === "train").drop("split")
    val ev = bySplit.filter(col("split") === "test").drop("split")
    val exact = Dedup.containment(ev, train, n = 3)
      .select(col("doc_id"), col("n_sh"), col("n_hit").as("n_hit_exact"))
    val bloom = Dedup.bloomContainment(train, ev, n = 3)
      .select(col("doc_id"), col("n_hit").as("n_hit_bloom"))
    exact.join(bloom, Seq("doc_id"))
      .agg(count(lit(1)).as("n_scored_docs"),
        sum(when(round(col("n_hit_exact").cast("double") / col("n_sh"), 6)
          >= 0.5, 1L).otherwise(0L)).as("n_flagged_exact"),
        expr("bool_and(n_hit_bloom >= n_hit_exact)").as("superset_ok"),
        ((sum(col("n_hit_bloom")) - sum(col("n_hit_exact"))).cast("double")
          / sum(col("n_sh")) <= 0.02).as("fp_ok"))
  }

  private val d12Sql =
    """WITH base AS (SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tk,
      |    CASE WHEN substring(md5('g1' || text), 1, 2) < 'cc' THEN 'train'
      |         WHEN substring(md5('g1' || text), 1, 2) < 'e6' THEN 'valid'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, split, array_to_string(tk[i:i+2], ' ') AS shingle
      |  FROM base, UNNEST(range(1, len(tk) - 1)) AS u(i) WHERE len(tk) >= 3
      |  UNION
      |  SELECT DISTINCT doc_id, split, array_to_string(tk, ' ') AS shingle
      |  FROM base WHERE len(tk) BETWEEN 1 AND 2),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
      |cont AS (SELECT s.doc_id, COUNT(*) AS n_sh,
      |    SUM(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      |  FROM sh s LEFT JOIN ev ON s.shingle = ev.shingle
      |  WHERE s.split = 'train' GROUP BY 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_scored_docs,
      |  CAST(SUM(CASE WHEN round(CAST(n_hit AS DOUBLE) / n_sh, 6) >= 0.5
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_exact,
      |  TRUE AS superset_ok, TRUE AS fp_ok
      |FROM cont""".stripMargin

  // --------------------------------------- d06 deterministic split/sample

  /** Content-hash train/valid/test split (80/10/10) + a 10% deterministic
    * Bernoulli sample, reported per split. Both keyed on md5(salt ‖ text),
    * so DuckDB reproduces the assignment bit-for-bit. */
  private def d06(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val bySplit = Sampling.hashSplit(docs, col("text"), salt = "g1")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("bigint").as("id_sum"))
    val sampled = Sampling.hashSplit(
        Sampling.deterministicSample(docs, col("text"), num = 6554, salt = "g2"),
        col("text"), salt = "g1")
      .groupBy(col("split")).agg(count(lit(1)).as("n_sampled"))
    bySplit.join(sampled, Seq("split"), "left")
      .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
      .orderBy(col("split"))
  }

  private val d06Sql =
    """WITH s AS (SELECT doc_id,
      |    CASE WHEN substring(md5('g1' || text), 1, 2) < 'cc' THEN 'train'
      |         WHEN substring(md5('g1' || text), 1, 2) < 'e6' THEN 'valid'
      |         ELSE 'test' END AS split,
      |    substring(md5('g2' || text), 1, 4) < '199a' AS samp
      |  FROM documents)
      |SELECT split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  CAST(SUM(CASE WHEN samp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------- d18 incremental near-dup dedup

  /** Incremental NEAR-dup dedup of an ingest batch against the historical
    * corpus's MinHash band store (the approximate sibling of d16): the
    * batch plants known near-dups of history (one appended token,
    * Jaccard ≈ 0.96) and known-novel docs (synthetic disjoint token
    * streams). Gates: every planted near-dup must be dropped at a ≥ 0.6
    * recall bound (32 bands × 4 rows at J ≈ 0.96 ⇒ band-match
    * probability ≈ 1) and NO novel doc may be false-dropped (disjoint
    * shingles estimate ≈ 0 — the estimate check re-verifies every bucket
    * candidate). DuckDB reproduces the counts and gate booleans from the
    * closed planted structure. */
  private def d18(s: SparkSession, dir: String): DataFrame = {
    val hist = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // planted ids live in [off, 2·off), novel in [2·off, 3·off) — derived
    // from max(doc_id), so the classification below cannot collide with
    // history at any scale factor (ADVICE r9)
    val off = idOffset(hist)
    val nearDups = hist.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" graftmarker")).as("text"))
    val novel = hist.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 2 * off).as("doc_id"),
        array_join(transform(sequence(lit(1), lit(40)),
          i => concat(lit("novel"), col("doc_id"), lit("x"), i)), " ")
          .as("text"))
    val res = Dedup.incrementalNearDup(
      nearDups.unionByName(novel), Dedup.nearDupStore(hist), threshold = 0.8)
    // both contracts surface as BOOLEANS so GateCheck (which asserts every
    // boolean column) enforces them at the sf1 rehearsal, not just here
    res.agg(
      sum(when(col("doc_id") < 2 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_planted"),
      sum(when(col("doc_id") >= 2 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_novel"),
      (sum(when(col("doc_id") >= 2 * off && col("is_dup"), 1L).otherwise(0L))
        === 0L).as("no_false_drops"),
      (sum(when(col("doc_id") < 2 * off && col("is_dup"), 1L).otherwise(0L))
        .cast("double")
        / sum(when(col("doc_id") < 2 * off, 1L).otherwise(0L))
        >= 0.6).as("recall_ok"))
  }

  private val d18Sql =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 0)
      |    AS BIGINT) AS n_planted,
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 13 = 0)
      |    AS BIGINT) AS n_novel,
      |  TRUE AS no_false_drops,
      |  TRUE AS recall_ok""".stripMargin

  // ------------------------------------------- d17 leakage-safe group split

  /** Group-aware split on `source`: per split, doc and distinct-source
    * counts plus a corpus-wide LEAK GATE — the count of sources straddling
    * more than one split must be zero by construction (the assignment is a
    * pure function of the group key). The gate is emitted as a
    * hash-checked column so the oracle pins the contract, not just the
    * counts. */
  private def d17(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val split = Sampling.groupSplit(docs, col("source"), salt = "g3")
    val leak = split.groupBy(col("source"))
      .agg(countDistinct(col("split")).as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).cast("bigint")
        .as("n_leaky"))
    split.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).cast("bigint").as("id_sum"))
      .crossJoin(broadcast(leak))
      .select(col("split"), col("n_docs"), col("n_sources"), col("id_sum"),
        (col("n_leaky") === 0L).as("leak_free"))
      .orderBy(col("split"))
  }

  private val d17Sql =
    """WITH s AS (SELECT doc_id, source,
      |    CASE WHEN substring(md5('g3' || source), 1, 2) < 'cc' THEN 'train'
      |         WHEN substring(md5('g3' || source), 1, 2) < 'e6' THEN 'valid'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |leak AS (SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_leaky
      |  FROM (SELECT source, COUNT(DISTINCT split) AS ns FROM s GROUP BY 1))
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  (SELECT n_leaky FROM leak) = 0 AS leak_free
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------- d19 store append + replay no-op

  /** Fresh store root per INVOCATION: ConfAbProbe's reps re-run a query
    * inside one process, and a second run against a root that already holds
    * batch 1's appended segment would probe a different store. The parent
    * staging dir is deleted at JVM exit. */
  private val storeInvocation = new java.util.concurrent.atomic.AtomicLong()

  /** The production ingest LOOP closed over [[graft.llm.DedupStore]]: seed
    * the fingerprint store from history, dedup batch 1 against it, APPEND
    * batch 1's survivors, dedup batch 2 against the grown store — and gate
    * that (a) replaying batch 1's append is a byte-level no-op (returns
    * false, store row count unchanged), (b) the on-disk store holds exactly
    * |history fps| + |batch-1 survivors| rows, and (c) the two-step kept
    * (fp, doc_id) set equals the ONE-SHOT dedup of batch1 ∪ batch2 against
    * the original store (dup_count intentionally excluded: the one-shot
    * form counts cross-batch copies together, the incremental form within
    * their own batch — the kept set is the contract). Batch-2 ids sit
    * above batch-1 ids so min-id canonicalization picks the same survivor
    * in both flows. */
  private def d19(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.DedupStore
    val hist = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = idOffset(hist)
    val b1 = hist.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit("  ")).as("text"))
      .unionByName(hist.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2 * off).as("doc_id"),
          concat(lit("newdoc "), col("text")).as("text")))
    val b2 = hist.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 3 * off).as("doc_id"),
        concat(col("text"), lit(" ")).as("text"))
      .unionByName(hist.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 4 * off).as("doc_id"),
          concat(lit("newdoc "), col("text"), lit("  ")).as("text")))
      .unionByName(hist.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5 * off).as("doc_id"),
          concat(lit("fresh "), col("text")).as("text")))
    val root = staging("fpstore", dir) + "/" + storeInvocation.incrementAndGet()
    // one corpus distinct, three consumers (seed append, one-shot twin,
    // store accounting) — without the checkpoint the documents scan +
    // distinct aggregation would run three times
    val histFps = Dedup.fingerprintStore(hist).localCheckpoint()
    DedupStore.appendFingerprints(s, root, 0L, histFps)
    // materialized before the append so the probe plan is pinned to
    // segment 0 (read() captures its path list eagerly; the checkpoint
    // also feeds three consumers below without recompute)
    val r1 = Dedup.incrementalExact(b1, DedupStore.readFingerprints(s, root))
      .localCheckpoint()
    val firstAppend = DedupStore.appendFingerprints(s, root, 1L, r1)
    val replayAppend = DedupStore.appendFingerprints(s, root, 1L, r1)
    val storeAfter = DedupStore.readFingerprints(s, root)
    val r2 = Dedup.incrementalExact(b2, storeAfter).localCheckpoint()
    val oneshot = Dedup.incrementalExact(b1.unionByName(b2), histFps)
    val twoStep = r1.unionByName(r2).select(col("fp"), col("doc_id"))
    val symDiff = twoStep.withColumn("__a", lit(1))
      .join(oneshot.select(col("fp"), col("doc_id")).withColumn("__b", lit(1)),
        Seq("fp", "doc_id"), "full_outer")
      .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L).otherwise(0L))
        .as("__n_mismatch"))
    r1.agg(count(lit(1)).as("n_b1_kept"))
      .crossJoin(r2.agg(count(lit(1)).as("n_b2_kept")))
      .crossJoin(storeAfter.agg(count(lit(1)).as("n_store_fps")))
      .crossJoin(histFps.agg(count(lit(1)).as("__n_hist_fps")))
      .crossJoin(broadcast(symDiff))
      .select(col("n_b1_kept"), col("n_b2_kept"), col("n_store_fps"),
        lit(firstAppend && !replayAppend).as("replay_noop"),
        (col("n_store_fps") === col("__n_hist_fps") + col("n_b1_kept"))
          .as("store_consistent"),
        (coalesce(col("__n_mismatch"), lit(0L)) === 0L).as("matches_oneshot"))
  }

  private val d19Sql =
    """WITH hist AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT MAX(doc_id) + 1 AS o FROM hist),
      |b1 AS (
      |  SELECT doc_id + (SELECT o FROM off) AS doc_id, text || '  ' AS text
      |    FROM hist WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * (SELECT o FROM off), 'newdoc ' || text
      |    FROM hist WHERE doc_id % 7 = 0),
      |b2 AS (
      |  SELECT doc_id + 3 * (SELECT o FROM off) AS doc_id, text || ' ' AS text
      |    FROM hist WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id + 4 * (SELECT o FROM off), 'newdoc ' || text || '  '
      |    FROM hist WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 5 * (SELECT o FROM off), 'fresh ' || text
      |    FROM hist WHERE doc_id % 13 = 0),
      |storefp AS (SELECT DISTINCT
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM hist),
      |b1f AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM b1),
      |k1 AS (SELECT fp, MIN(doc_id) AS doc_id FROM b1f
      |  WHERE fp NOT IN (SELECT fp FROM storefp) GROUP BY 1),
      |b2f AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM b2),
      |k2 AS (SELECT fp, MIN(doc_id) AS doc_id FROM b2f
      |  WHERE fp NOT IN (SELECT fp FROM storefp)
      |    AND fp NOT IN (SELECT fp FROM k1) GROUP BY 1)
      |SELECT CAST((SELECT COUNT(*) FROM k1) AS BIGINT) AS n_b1_kept,
      |  CAST((SELECT COUNT(*) FROM k2) AS BIGINT) AS n_b2_kept,
      |  CAST((SELECT COUNT(*) FROM storefp) + (SELECT COUNT(*) FROM k1)
      |    AS BIGINT) AS n_store_fps,
      |  TRUE AS replay_noop, TRUE AS store_consistent,
      |  TRUE AS matches_oneshot""".stripMargin

  // ---------------------------- d21 near-dup store append + replay no-op

  /** The NEAR-dup sibling of d19 — the approximate ingest loop closed
    * over [[graft.llm.DedupStore]]: seed the MinHash store from history,
    * probe batch 1 (synthetic novel token streams — all must survive),
    * APPEND batch 1's signatures, then probe batch 2, which plants
    * one-token-appended near-dups of batch 1's survivors (Jaccard ≈ 0.98
    * — catchable ONLY through the appended segment, not history) plus
    * fresh novel docs. Gates: zero batch-1 false drops, batch-2 planted
    * recall ≥ 0.6 vs the store-grown index, zero batch-2 false drops,
    * and the replayed append is a no-op (returns false, store row count
    * unchanged). DuckDB reproduces the counts and gate booleans from the
    * closed planted structure. */
  private def d21(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.DedupStore
    val hist = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = idOffset(hist)
    // text streams keyed EXPLICITLY by a separate column: a same-select
    // `col("doc_id")` next to a `.as("doc_id")` alias resolves to the
    // ALIAS under Spark's lateral-column-alias rule, which silently built
    // planted texts from the wrong id (disjoint streams, recall 0)
    def novelTextOf(id: Column, prefix: String) =
      array_join(transform(sequence(lit(1), lit(40)),
        i => concat(lit(prefix), id, lit("x"), i)), " ")
    def stream(mod: Int, idShift: Long, prefix: String,
        suffix: String = ""): DataFrame =
      hist.filter(col("doc_id") % mod === 0)
        .select(col("doc_id").as("__orig"),
          (col("doc_id") + idShift).as("doc_id"))
        .select(col("doc_id"),
          concat(novelTextOf(col("__orig"), prefix), lit(suffix)).as("text"))
    val b1 = stream(13, off, "novel")
    // planted near-dups rebuild batch-1's streams (same __orig ids) with
    // one appended token — catchable only through the appended segment
    val planted = stream(13, 2 * off, "novel", " graftmarker")
    val fresh = stream(17, 3 * off, "fresh")
    val root = staging("ndstore", dir) + "/" + storeInvocation.incrementAndGet()
    val (_, sigs0) = Dedup.nearDupStore(hist)
    DedupStore.appendNearDupSigs(s, root, 0L, sigs0)
    val r1 = Dedup.incrementalNearDup(b1, DedupStore.readNearDup(s, root),
      threshold = 0.8).localCheckpoint()
    val survivors1 = b1.join(
      r1.filter(!col("is_dup")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val sig1 = Dedup.minhashSignatures(survivors1)
      .select(col("doc_id").as("sid"), col("sig"))
    val firstAppend = DedupStore.appendNearDupSigs(s, root, 1L, sig1)
    val replayAppend = DedupStore.appendNearDupSigs(s, root, 1L, sig1)
    // store accounting across the DOUBLE append: exactly history + batch-1
    // signatures, nothing duplicated
    val storeRows = DedupStore.readNearDup(s, root)._2.count()
    val histSigs = sigs0.count()
    val b1Sigs = sig1.count()
    val r2 = Dedup.incrementalNearDup(planted.unionByName(fresh),
      DedupStore.readNearDup(s, root), threshold = 0.8)
    val g1 = r1.agg(count(lit(1)).as("n_b1"),
      (sum(when(col("is_dup"), 1L).otherwise(0L)) === 0L).as("b1_all_kept"))
    val g2 = r2.agg(
      sum(when(col("doc_id") < 3 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_planted"),
      sum(when(col("doc_id") >= 3 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_fresh"),
      (sum(when(col("doc_id") < 3 * off && col("is_dup"), 1L).otherwise(0L))
        .cast("double")
        / sum(when(col("doc_id") < 3 * off, 1L).otherwise(0L)) >= 0.6)
        .as("recall_ok"),
      (sum(when(col("doc_id") >= 3 * off && col("is_dup"), 1L).otherwise(0L))
        === 0L).as("no_false_drops"))
    g1.crossJoin(g2)
      .select(col("n_b1"), col("n_planted"), col("n_fresh"),
        col("b1_all_kept"), col("recall_ok"), col("no_false_drops"),
        lit(firstAppend && !replayAppend).as("replay_noop"),
        lit(storeRows == histSigs + b1Sigs).as("store_consistent"))
  }

  private val d21Sql =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 13 = 0)
      |    AS BIGINT) AS n_b1,
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 13 = 0)
      |    AS BIGINT) AS n_planted,
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 17 = 0)
      |    AS BIGINT) AS n_fresh,
      |  TRUE AS b1_all_kept, TRUE AS recall_ok, TRUE AS no_false_drops,
      |  TRUE AS replay_noop, TRUE AS store_consistent""".stripMargin

  // --------------------------- d25 semantic near-dup store ingest LOOP

  /** The full SEMANTIC near-dup ingest loop against the durable
    * [[graft.llm.DedupStore]] — the embedding sibling of d21, proving the
    * store is a real incremental accumulator, not a read-only snapshot:
    * seed the store with history's vectors, ingest batch 1 (novel
    * hash-derived directions — ALL must survive, exact count gate),
    * append the survivors' vectors as batch 1's segment, then ingest
    * batch 2 whose planted near-dups (+0.0005 shift) rebuild BATCH 1's
    * vectors — catchable only through the appended segment (recall gate)
    * — alongside fresh novel directions (zero false drops, exact).
    * Replaying batch 1's append must be a no-op and the store must hold
    * exactly history + batch-1 vectors (accounting gates). Only vectors
    * persist; the banded LSH index re-derives on read
    * ([[graft.llm.DedupStore.readVectors]], the readNearDup discipline).
    * bits = 12: the d24 cost dial, sf10-sized. */
  private def d25(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.DedupStore
    val hist = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val off = hist.agg(max(col("vec_id"))).head.getLong(0) + 1
    // vectors keyed EXPLICITLY by a separate __orig column (the d21
    // lateral-column-alias lesson): planted rebuilds batch-1's vectors
    // from the SAME __orig ids, so they are near-dups of batch 1 only
    def novelVecOf(orig: Column, prefix: String): Column =
      transform(sequence(lit(1), lit(64)), i =>
        (pmod(xxhash64(concat(lit(prefix), orig, lit("_"), i)),
          lit(2000001L)) - lit(1000000L)).cast("double") / 1000000.0)
    def vstream(mod: Int, idShift: Long, prefix: String,
        shift: Double = 0.0): DataFrame =
      hist.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").as("__orig"),
          (col("vec_id") + idShift).as("vec_id"))
        .select(col("vec_id"),
          transform(novelVecOf(col("__orig"), prefix), x => x + shift)
            .as("embedding"))
    val b1 = vstream(13, off, "nv")
    val planted = vstream(13, 2 * off, "nv", shift = 0.0005)
    val fresh = vstream(17, 3 * off, "fv")
    val root = staging("vecstore", dir) + "/" + storeInvocation.incrementAndGet()
    val dim = 64; val bits = 12
    DedupStore.appendVectors(s, root, 0L,
      Similarity.embeddingStore(hist, dim, bits)._2)
    def store = DedupStore.readVectors(s, root, dim, bits)
    val r1 = Similarity.incrementalEmbeddingNearDup(b1, store,
      threshold = 0.95, dim = dim, bits = bits).localCheckpoint()
    val survivors1 = b1.join(
      r1.filter(!col("is_dup")).select(col("vec_id")), Seq("vec_id"), "left_semi")
    val vec1 = survivors1.select(col("vec_id").as("sid"),
      col("embedding").as("s_vec"))
    val firstAppend = DedupStore.appendVectors(s, root, 1L, vec1)
    val replayAppend = DedupStore.appendVectors(s, root, 1L, vec1)
    val storeRows = store._2.count()
    val histVecs = hist.count()
    val b1Vecs = vec1.count()
    val r2 = Similarity.incrementalEmbeddingNearDup(
      planted.unionByName(fresh), store,
      threshold = 0.95, dim = dim, bits = bits)
    val g1 = r1.agg(count(lit(1)).as("n_b1"),
      (sum(when(col("is_dup"), 1L).otherwise(0L)) === 0L).as("b1_all_kept"))
    val g2 = r2.agg(
      sum(when(col("vec_id") < 3 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_planted"),
      sum(when(col("vec_id") >= 3 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_fresh"),
      (sum(when(col("vec_id") < 3 * off && col("is_dup"), 1L).otherwise(0L))
        .cast("double")
        / sum(when(col("vec_id") < 3 * off, 1L).otherwise(0L)) >= 0.6)
        .as("recall_ok"),
      (sum(when(col("vec_id") >= 3 * off && col("is_dup"), 1L).otherwise(0L))
        === 0L).as("no_false_drops"))
    g1.crossJoin(g2)
      .select(col("n_b1"), col("n_planted"), col("n_fresh"),
        col("b1_all_kept"), col("recall_ok"), col("no_false_drops"),
        lit(firstAppend && !replayAppend).as("replay_noop"),
        lit(storeRows == histVecs + b1Vecs).as("store_consistent"))
  }

  private val d25Sql =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 13 = 0)
      |    AS BIGINT) AS n_b1,
      |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 13 = 0)
      |    AS BIGINT) AS n_planted,
      |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 17 = 0)
      |    AS BIGINT) AS n_fresh,
      |  TRUE AS b1_all_kept, TRUE AS recall_ok, TRUE AS no_false_drops,
      |  TRUE AS replay_noop, TRUE AS store_consistent""".stripMargin

  // ------------------------------- d22 semantic (embedding) decontamination

  /** Embedding-space decontamination — the semantic sibling of d10's n-gram
    * containment: drop every training vector whose max cosine to ANY eval
    * vector reaches 0.9 (leaks that survive paraphrase keep their embedding
    * neighborhood even when their n-grams change). Eval set = vec_id ≡ 7
    * (mod 10); the train side replants a third of the eval vectors
    * (+0.05 per coordinate, cos ≈ 0.92–0.95 to their source — the s03
    * construction) among the clean rest. [[graft.llm.Similarity
    * .semanticDecontaminate]]: eval collected under the fail-loud RefSetCap,
    * broadcast, per-row max in ONE mapPartitions pass over the train scan —
    * zero shuffle, exact (no recall gate needed). Output = the dropped rows
    * with their evidence (max cos, nearest eval id). */
  private def d22(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // collision-free planted-id offset derived from the DATA (the documents
    // idOffset pattern) — a hard-coded +100000 collides with real train ids
    // once the corpus is amplified past ~5× the 20k-vector base, and on
    // collision the two engines diverge structurally (ADVICE r10)
    val vecOff = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val eval = emb.filter(col("vec_id") % 10 === 7)
    val train = emb.filter(col("vec_id") % 10 =!= 7)
      .unionByName(eval.filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + vecOff).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.05)).as("embedding")))
    Similarity.semanticDecontaminate(train, eval, threshold = 0.9)
      .filter(col("is_contaminated"))
      .select(col("vec_id"), round(col("max_cos"), 6).as("max_cos"),
        col("nearest_ref_id").as("eval_id"))
      .orderBy(col("vec_id"))
  }

  private val d22Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      |  FROM embeddings),
      |ev AS (SELECT * FROM e WHERE vec_id % 10 = 7),
      |tr AS (SELECT vec_id, embedding FROM e WHERE vec_id % 10 <> 7
      |  UNION ALL
      |  SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM e),
      |    list_transform(embedding, x -> x + 0.05)
      |  FROM ev WHERE vec_id % 3 = 0),
      |sc AS (SELECT t.vec_id, ev.vec_id AS eid,
      |    list_cosine_similarity(t.embedding, ev.embedding) AS cos
      |  FROM tr t CROSS JOIN ev)
      |SELECT vec_id, round(max(cos), 6) AS max_cos,
      |  arg_max(eid, cos) AS eval_id
      |FROM sc GROUP BY vec_id
      |HAVING max(cos) >= 0.9
      |ORDER BY vec_id""".stripMargin

  // ----------------------------------- d23 cluster-balanced diverse sample

  /** Semantic-diversity sampling: assign every embedding to its nearest
    * centroid (8 fixed centroid vectors = the vec_id < 8 rows — the
    * bring-your-own-codebook path; a production run would feed
    * [[graft.llm.Similarity.nearestCentroids]] a k-means fit) and keep the
    * top 3 of each cluster by a deterministic salted-md5 key — the
    * cluster-balanced subset SemDeDup-style pruning ships. Assignment is
    * the shuffle-free argmax projection; selection is ONE bounded-heap
    * TopKAgg aggregate per cluster ([[graft.llm.Sampling
    * .clusterBalancedSample]] — map-side partials, no corpus-sized
    * per-cluster window sort). Value-matched: DuckDB reproduces the argmax
    * (cos desc, cid asc) and the 16-bit md5 rank key exactly. */
  private def d23(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cents = emb.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val wkey = (conv(substring(md5(concat(lit("d23"),
        col("vec_id").cast("string"))), 1, 4), 16, 10).cast("double")
      + 0.5) / 65536.0
    val scored = Similarity.nearestCentroids(emb, cents)
      .select(col("centroid_id").cast("long").as("centroid_id"),
        col("corpus_id").as("vec_id"))
      .withColumn("wkey", wkey)
    Sampling.clusterBalancedSample(scored, perCluster = 3,
        clusterCol = "centroid_id", scoreCol = "wkey", idCol = "vec_id")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("centroid_id"), col("rank"))
  }

  private val d23Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS cvec FROM e WHERE vec_id < 8),
      |sc AS (SELECT e.vec_id, c.cid,
      |    list_cosine_similarity(e.embedding, c.cvec) AS cos
      |  FROM e CROSS JOIN c),
      |asn AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |    FROM sc) WHERE rn = 1),
      |w AS (SELECT vec_id, cid,
      |    (((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) + 0.5)
      |      / 65536.0 AS wkey
      |  FROM (SELECT vec_id, cid, substring(md5('d23' || vec_id), 1, 4) AS h
      |        FROM asn)),
      |r AS (SELECT cid, vec_id,
      |    row_number() OVER (PARTITION BY cid ORDER BY wkey DESC, vec_id)
      |      AS rank,
      |    count(*) OVER (PARTITION BY cid) AS cluster_size
      |  FROM w)
      |SELECT cid AS centroid_id, cluster_size, vec_id, rank
      |FROM r WHERE rank <= 3
      |ORDER BY centroid_id, rank""".stripMargin

  // ------------------------------- d24 incremental SEMANTIC near-dup dedup

  /** Incremental semantic (embedding-cosine) near-dup dedup of an ingest
    * batch against the historical corpus's
    * [[graft.llm.Similarity.embeddingStore]] — completing the incremental
    * family: exact fingerprints (d16), MinHash text (d18), embedding
    * cosine (this). The batch plants near-dups of history (a +0.0005
    * per-coordinate shift — cos ≈ 0.9999, the amplified-corpus shape) and
    * known-novel vectors (deterministic hash-derived directions — in 64
    * dims a random direction's cosine to anything concentrates within
    * ~±0.13, far under the 0.95 threshold). Gates: planted near-dups must
    * be dropped at a ≥ 0.6 recall bound (the +0.0005 shift almost never
    * flips a hyperplane sign, and a pair must split in BOTH families to
    * be missed) and NO novel vector may be false-dropped (every bucket
    * candidate is re-verified with exact cosine). DuckDB reproduces the
    * counts and gate booleans from the closed planted structure. */
  private def d24(s: SparkSession, dir: String): DataFrame = {
    val hist = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val off = hist.agg(max(col("vec_id"))).head.getLong(0) + 1
    val planted = hist.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => x.cast("double") + 0.0005)
          .as("embedding"))
    val novel = hist.filter(col("vec_id") % 13 === 0)
      .select((col("vec_id") + 2 * off).as("vec_id"),
        transform(sequence(lit(1), lit(64)), i =>
          (pmod(xxhash64(concat(lit("nv"), col("vec_id"), lit("_"), i)),
            lit(2000001L)) - lit(1000000L)).cast("double") / 1000000.0)
          .as("embedding"))
    // bits = 12 (4096 buckets/family): candidate pairs ≈
    // tables·|batch|·|store|/2^bits — THE cost dial, sized with the
    // corpus like every LSH query (bits = 8 measured 42× super-linear at
    // the sf10 rehearsal: 2 M store rows × 440 k batch / 256 buckets;
    // 12 bits is linear-ish there and recall-neutral — a +0.0005 shift
    // almost never flips a plane regardless of plane count)
    val res = Similarity.incrementalEmbeddingNearDup(
      planted.unionByName(novel),
      Similarity.embeddingStore(hist, dim = 64, bits = 12),
      threshold = 0.95, dim = 64, bits = 12)
    res.agg(
      sum(when(col("vec_id") < 2 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_planted"),
      sum(when(col("vec_id") >= 2 * off, 1L).otherwise(0L)).cast("bigint")
        .as("n_novel"),
      (sum(when(col("vec_id") >= 2 * off && col("is_dup"), 1L).otherwise(0L))
        === 0L).as("no_false_drops"),
      (sum(when(col("vec_id") < 2 * off && col("is_dup"), 1L).otherwise(0L))
        .cast("double")
        / sum(when(col("vec_id") < 2 * off, 1L).otherwise(0L))
        >= 0.6).as("recall_ok"))
  }

  private val d24Sql =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 7 = 0)
      |    AS BIGINT) AS n_planted,
      |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 13 = 0)
      |    AS BIGINT) AS n_novel,
      |  TRUE AS no_false_drops,
      |  TRUE AS recall_ok""".stripMargin

  /** Cluster canonicalization — the KEEP/DROP decision that follows
    * near-dup clustering in a real dedup pipeline: per duplicate cluster,
    * keep the highest-quality document (ties to the lowest doc_id).
    * Composes two independently-proven oracles (d05's recursive-CTE
    * clusters, t01/t07's quality formula). */
  private def d09(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir).localCheckpoint()
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
      maxDf = 1000)
    val cc = Dedup.connectedComponents(pairs)
    val q = docs.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"))
    // the keeper is an ARGMAX per cluster under (quality desc, doc_id asc) —
    // one max(struct) aggregate, map-side combined, replacing the former
    // row_number window that sorted every member of a cluster in one task
    // (struct ordering: quality first, then -doc_id, so ties go to the
    // LOWEST doc_id exactly like the window's orderBy did)
    cc.select(col("node").as("doc_id"), col("comp").as("cluster_id"))
      .join(q, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("negid")))
          .as("__best"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("__best.negid")).as("keeper_doc_id"),
        round(col("__best.q"), 6).as("keeper_quality"))
      .orderBy(col("cluster_id"))
  }

  private val d09Sql = {
    val allWords = TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""$clusterCte,
       |pre AS (SELECT d.doc_id, d.text, t.tk,
       |    length(d.text) - length(regexp_replace(d.text,
       |        '[.,!?;:''"()\\[\\]{}-]', '', 'g')) AS n_punct,
       |    len(list_filter(t.tk, x -> list_contains($allWords, x))) AS sw_hits
       |  FROM docs2 d JOIN toks t USING (doc_id)),
       |q AS (SELECT doc_id, ${qualitySqlExpr("len(tk)")} AS quality
       |  FROM (SELECT doc_id, text, tk, n_punct, sw_hits FROM pre)),
       |rk AS (SELECT l.doc_id, l.cluster_id, q.quality,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY q.quality DESC, l.doc_id) AS rn
       |  FROM labels l JOIN q USING (doc_id))
       |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       |  CAST(COUNT(*) AS BIGINT) AS cluster_size,
       |  CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper_doc_id,
       |  round(MAX(CASE WHEN rn = 1 THEN quality END), 6) AS keeper_quality
       |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Stratified deterministic sampling: rebalance the corpus by language
    * (keep 25% of overrepresented 'en', 50% of 'zh', everything else
    * whole) with the salted content-hash rule — per-row projection, no
    * RNG, no per-stratum pass. The oracle applies the IDENTICAL md5-prefix
    * comparison per stratum, so every kept row hash-matches. */
  private def d08(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    Sampling.stratifiedSample(docs, col("text"), col("lang"),
        rates = Map("en" -> 16384, "zh" -> 32768), salt = "g3")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val d08Sql =
    """SELECT doc_id, lang FROM documents
      |WHERE CASE lang
      |    WHEN 'en' THEN substring(md5('g3' || text), 1, 4) < '4000'
      |    WHEN 'zh' THEN substring(md5('g3' || text), 1, 4) < '8000'
      |    ELSE TRUE END
      |ORDER BY doc_id""".stripMargin

  /** Frequency-cap downsampling — [[Sampling.capSample]]: every language
    * brought down to ~72 docs in expectation, smaller languages kept
    * whole. Rates derive from the data (per-stratum counts), unlike d08's
    * fixed map; the oracle recomputes the identical integer-div threshold
    * and md5 comparison. */
  private def d11(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    Sampling.capSample(docs, col("text"), col("lang"), cap = 72, salt = "g5")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val d11Sql =
    """WITH n AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1)
      |SELECT d.doc_id, d.lang FROM documents d JOIN n USING (lang)
      |WHERE cnt <= 72
      |   OR substring(md5('g5' || text), 1, 4) <
      |      printf('%04x', CAST((65536 * 72) // cnt AS INT))
      |ORDER BY doc_id""".stripMargin

  /** Weighted sampling without replacement — [[Sampling.weightedSample]]
    * with weight = token count (longer docs proportionally likelier, the
    * standard length-weighted corpus mix). Deterministic Efraimidis–
    * Spirakis keys from the salted content hash; the oracle recomputes the
    * identical 16-bit uniform (hex-digit positional arithmetic), the same
    * `u^(1/w)` key, and the same top-100 cut with the doc_id tie-break. */
  private def d13(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    Sampling.weightedSample(docs, col("text"),
        greatest(lit(1L), TextOps.tokenCount(col("text")).cast("long"))
          .cast("double"),
        n = 100, tieBreak = col("doc_id"), salt = "g6")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val d13Sql =
    """WITH t AS (SELECT doc_id, lang,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS tk,
      |    substring(md5('g6' || text), 1, 4) AS h
      |  FROM documents),
      |k AS (SELECT doc_id, lang,
      |    pow((((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
      |        + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
      |        + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
      |        + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) + 0.5)
      |        / 65536.0,
      |      1.0 / greatest(1, len(tk))) AS wkey
      |  FROM t)
      |SELECT doc_id, lang
      |FROM (SELECT * FROM k ORDER BY wkey DESC, doc_id LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- d14 temperature mixing

  /** Temperature-based mixture resampling — [[Sampling.temperatureMix]]
    * over the language strata at τ = 2 (proportions ∝ √n — the standard
    * multilingual flattening), budgeted to ~300 rows. The oracle
    * recomputes the per-stratum counts, the √n normalizer, the 6-decimal
    * rounding + 16-bit floor, and the salted-md5 comparison. */
  private def d14(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    Sampling.temperatureMix(docs, col("text"), col("lang"),
        tau = 2.0, targetRows = 300, salt = "g8")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  private val d14Sql =
    """WITH n AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
      |z AS (SELECT SUM(sqrt(cnt)) AS z FROM n),
      |r AS (SELECT lang, CAST(floor(round(
      |    least(1.0, sqrt(cnt) / z * 300 / cnt) * 65536, 6)) AS INT) AS thr
      |  FROM n CROSS JOIN z)
      |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      |WHERE thr >= 65536
      |   OR substring(md5('g8' || text), 1, 4) < printf('%04x', thr)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------- d15 robust (median/MAD) outlier screen

  /** Modified-z-score outlier profile of lineitem prices per return flag —
    * the robust numeric-quality pass a pipeline runs before a column feeds
    * training statistics. Exact percentiles at test SF (the q30 GK twin is
    * the 100 TB swap-in). */
  private def d15(s: SparkSession, dir: String): DataFrame =
    NumericQuality.robustOutliers(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
        valueCol = "l_extendedprice", groupCols = Seq("l_returnflag"), z = 3.5)
      .orderBy(col("l_returnflag"))

  private val d15Sql =
    """WITH m AS (SELECT l_returnflag,
      |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
      |  FROM lineitem GROUP BY 1),
      |d AS (SELECT l.l_returnflag, CAST(l.l_extendedprice AS DOUBLE) AS x,
      |    m.med FROM lineitem l JOIN m USING (l_returnflag)),
      |md AS (SELECT l_returnflag, quantile_cont(abs(x - med), 0.5) AS mad
      |  FROM d GROUP BY 1)
      |SELECT d.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  round(MIN(d.med), 4) AS med, round(MIN(md.mad), 4) AS mad,
      |  CAST(SUM(CASE WHEN md.mad > 0
      |    AND abs(0.6745 * (d.x - d.med) / md.mad) > 3.5
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(SUM(CASE WHEN md.mad > 0
      |    AND abs(0.6745 * (d.x - d.med) / md.mad) > 3.5
      |    THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_ratio
      |FROM d JOIN md USING (l_returnflag)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------- d20 robust outliers via GK sketch, gated

  /** d15's 100 TB swap-in, EXECUTED and gated (not prose): the same
    * median/MAD outlier profile with both percentile passes on
    * `approx_percentile` ([[NumericQuality.robustOutliersApprox]], GK
    * accuracy 10⁴ — bounded memory per group instead of `percentile`'s
    * buffer-every-value reducer), joined per group against the exact twin.
    * Gates: median and MAD within 1% relative (GK rank error n/10⁴ is far
    * inside that on this price distribution), outlier count within
    * max(10, 2%) — the cutoff shift from a sketchy median moves only the
    * boundary-density sliver. Exact values ride along so the oracle pins
    * the whole row (the q30 pattern). */
  private def d20(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val exact = NumericQuality.robustOutliers(
      src, "l_extendedprice", Seq("l_returnflag"), z = 3.5)
    val approx = NumericQuality.robustOutliersApprox(
        src, "l_extendedprice", Seq("l_returnflag"), z = 3.5, accuracy = 10000)
      .select(col("l_returnflag"), col("med").as("__amed"),
        col("mad").as("__amad"), col("n_outliers").as("__aout"))
    exact.join(approx, "l_returnflag")
      .select(col("l_returnflag"), col("n"), col("med"), col("mad"),
        col("n_outliers"), col("outlier_ratio"),
        (abs(col("__amed") / col("med") - 1) <= 0.01).as("med_ok"),
        (abs(col("__amad") / col("mad") - 1) <= 0.01).as("mad_ok"),
        (abs(col("__aout") - col("n_outliers"))
          <= greatest(lit(10L), (col("n_outliers") * 0.02).cast("long")))
          .as("outliers_ok"))
      .orderBy(col("l_returnflag"))
  }

  private val d20Sql =
    """WITH m AS (SELECT l_returnflag,
      |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
      |  FROM lineitem GROUP BY 1),
      |d AS (SELECT l.l_returnflag, CAST(l.l_extendedprice AS DOUBLE) AS x,
      |    m.med FROM lineitem l JOIN m USING (l_returnflag)),
      |md AS (SELECT l_returnflag, quantile_cont(abs(x - med), 0.5) AS mad
      |  FROM d GROUP BY 1)
      |SELECT d.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  round(MIN(d.med), 4) AS med, round(MIN(md.mad), 4) AS mad,
      |  CAST(SUM(CASE WHEN md.mad > 0
      |    AND abs(0.6745 * (d.x - d.med) / md.mad) > 3.5
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(SUM(CASE WHEN md.mad > 0
      |    AND abs(0.6745 * (d.x - d.med) / md.mad) > 3.5
      |    THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_ratio,
      |  TRUE AS med_ok, TRUE AS mad_ok, TRUE AS outliers_ok
      |FROM d JOIN md USING (l_returnflag)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------- d26 EXACT per-stratum cap

  /** Exact frequency cap ([[graft.llm.Sampling.exactCapSample]]): exactly
    * `min(40, |lang|)` documents per language, selected as the 40 smallest
    * salted content hashes — the deterministic-reservoir complement to
    * d11's in-expectation cap, for quotas a downstream contract needs
    * exact (a fixed-size per-language eval set). One map-side-combined
    * bounded-heap aggregate (never a per-stratum `row_number` window — a
    * window partition is stratum-sized on one reducer at 100 TB), then the
    * k·|langs|-sized winner set joins back for payload columns (AQE
    * broadcasts it). The oracle reproduces the selection by ordering on
    * the hex prefix STRING — fixed-width lowercase hex compares
    * lexicographically exactly as its numeric value, so the window form
    * over md5 text is the same ordering the heap used. */
  private def d26(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Sampling.exactCapSample(docs, col("text"), col("lang"), col("doc_id"),
        k = 40, salt = "d26")
      .select(col("stratum").as("lang"), col("stratum_size").as("n_lang"),
        col("id").as("doc_id"), col("rank"))
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
      .select(col("lang"), col("n_lang"), col("doc_id"), col("rank"),
        col("source"), col("n_chars"))
      .orderBy(col("lang"), col("rank"))
  }

  private val d26Sql =
    """WITH r AS (SELECT lang, doc_id, source, n_chars,
      |    COUNT(*) OVER (PARTITION BY lang) AS n_lang,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY substring(md5('d26' || text), 1, 8), doc_id) AS INT)
      |      AS rank
      |  FROM documents)
      |SELECT lang, n_lang, doc_id, rank, source, n_chars
      |FROM r WHERE rank <= 40 ORDER BY lang, rank""".stripMargin

  // ------------------------------------------- d27 shard export manifest

  /** Deterministic training-shard export manifest
    * ([[graft.llm.Sampling.shardManifest]]): the corpus assigned to 8
    * shards by salted content hash, ordered within each shard by the full
    * hash (the reproducible training-order shuffle), manifest row per
    * shard with count, id checksum, ORDER fingerprint (Σ pos·(id mod
    * 1000003) mod 1000000007 — audits order, not just membership) and the
    * shard's hash range. 8 divides 65536, so the 16-bit shard key is
    * exactly unbiased. Value-matched: DuckDB re-derives the shard id by
    * nibble-decoding the hex prefix and replays the same window. */
  private def d27(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Sampling.shardManifest(docs, col("text"), col("doc_id"), nShards = 8,
        salt = "d27")
      .orderBy(col("shard"))
  }

  private val d27Sql =
    """WITH t AS (SELECT doc_id, md5('d27' || text) AS h FROM documents),
      |a AS (SELECT doc_id, h,
      |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
      |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
      |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) % 8
      |      AS shard
      |  FROM t),
      |p AS (SELECT shard, doc_id, h,
      |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
      |  FROM a)
      |SELECT shard, COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  CAST(SUM((pos * (doc_id % 1000003)) % 1000000007) % 1000000007
      |    AS BIGINT) AS order_fp,
      |  MIN(h) AS first_key, MAX(h) AS last_key
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- export

  // ----------------------------------- d28 capped (representative) pairs

  /** The O(n)-output pair listing ([[Dedup.minhashNearDupPairsCapped]]):
    * d02's API with the quadratic-per-cluster output replaced by one
    * (representative, member) row per clustered doc — the form that
    * retires the full listing as the suite's sf10 ceiling. SELF-VERIFYING
    * against the uncapped run at the same dials:
    * `membership_ok` — the capped rows name EXACTLY the docs the full
    * pair list clusters (vertex-set equality both ways);
    * `linear_ok` — row count == members − clusters (the s−1 per cluster
    * identity) AND every member appears exactly once as id_b;
    * `marker_recall_ok` — ≥ 0.7 of the planted marker docs surface in the
    * capped output (d02's recall bound, proving the cap lost no planted
    * structure). n_markers value-matches DuckDB. */
  private def d28(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir).localCheckpoint()
    val off = LlmShared.markerOffset(s, dir)
    val full = Dedup.minhashNearDupPairs(docs, threshold = 0.5, k = 64,
      bands = 16).select(col("id_a"), col("id_b")).localCheckpoint()
    val capped = Dedup.minhashNearDupPairsCapped(docs, threshold = 0.5,
      k = 64, bands = 16).localCheckpoint()
    def vertices(df: DataFrame): DataFrame =
      df.select(col("id_a").as("v"))
        .unionByName(df.select(col("id_b").as("v"))).distinct()
    val fullV = vertices(full)
    val capV = vertices(capped)
    val missing = fullV.join(capV, Seq("v"), "left_anti")
      .unionByName(capV.join(fullV, Seq("v"), "left_anti"))
      .agg(count(lit(1)).as("__missing"))
    val counts = capped.agg(count(lit(1)).as("__rows"),
      countDistinct(col("id_b")).as("__members"),
      countDistinct(col("id_a")).as("__clusters"))
    val nVerts = fullV.agg(count(lit(1)).as("__verts"))
    val markers = docs.filter(col("doc_id") >= off)
      .agg(count(lit(1)).as("n_markers"))
    val markersFound = capV.filter(col("v") >= off)
      .agg(count(lit(1)).as("__mk_found"))
    markers.crossJoin(broadcast(missing)).crossJoin(broadcast(counts))
      .crossJoin(broadcast(nVerts)).crossJoin(broadcast(markersFound))
      .select(col("n_markers"),
        (col("__missing") === 0).as("membership_ok"),
        (col("__rows") === col("__members") &&
          col("__rows") === col("__verts") - col("__clusters"))
          .as("linear_ok"),
        (col("__mk_found").cast("double") / col("n_markers") >= 0.7)
          .as("marker_recall_ok"))
  }

  private val d28Sql =
    """SELECT COUNT(*) AS n_markers, TRUE AS membership_ok,
      |  TRUE AS linear_ok, TRUE AS marker_recall_ok
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  // ----------------------------------------- d29 shard export AUDIT

  /** Consumer-side export audit ([[Sampling.auditShardExport]]): the
    * producer publishes a d27-style manifest; the delivered rows are then
    * CORRUPTED two ways — doc 0 dropped (a lost row — and deliberately
    * the one id that contributes NOTHING to the id checksum, so only the
    * row count and the position-weighted order fingerprint catch it) and
    * doc 1's id substituted with an off-corpus id while its text (the
    * shard key) stays put (breaks ids and the order fingerprint but NOT
    * the row count or hash range — the class a naive count-only audit
    * misses). Between them every detector column is exercised. The audit
    * recomputes the manifest from the delivered rows and compares per
    * shard; every flag is VALUE-matched against DuckDB's relational
    * replay of the same corruption, including the six untouched shards
    * auditing clean. */
  private def d29(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = idOffset(docs)
    val manifest = Sampling.shardManifest(docs, col("text"), col("doc_id"),
      nShards = 8, salt = "d29")
    val delivered = docs.filter(col("doc_id") =!= 0 && col("doc_id") =!= 1)
      .unionByName(docs.filter(col("doc_id") === 1)
        .select(lit(off).as("doc_id"), col("text")))
    Sampling.auditShardExport(delivered, manifest, col("text"),
        col("doc_id"), nShards = 8, salt = "d29")
      .orderBy(col("shard"))
  }

  private val d29Sql =
    """WITH del AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id NOT IN (0, 1)
      |  UNION ALL
      |  SELECT (SELECT MAX(doc_id) + 1 FROM documents), text
      |  FROM documents WHERE doc_id = 1),
      |mt AS (SELECT doc_id, text, md5('d29' || text) AS h FROM documents),
      |ma AS (SELECT doc_id, h,
      |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
      |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
      |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) % 8
      |      AS shard FROM mt),
      |mp AS (SELECT shard, doc_id, h,
      |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
      |  FROM ma),
      |man AS (SELECT shard, COUNT(*) AS n_rows,
      |    CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |    CAST(SUM((pos * (doc_id % 1000003)) % 1000000007) % 1000000007
      |      AS BIGINT) AS order_fp,
      |    MIN(h) AS first_key, MAX(h) AS last_key
      |  FROM mp GROUP BY 1),
      |rt AS (SELECT doc_id, text, md5('d29' || text) AS h FROM del),
      |ra AS (SELECT doc_id, h,
      |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
      |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
      |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) % 8
      |      AS shard FROM rt),
      |rp AS (SELECT shard, doc_id, h,
      |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
      |  FROM ra),
      |rec AS (SELECT shard, COUNT(*) AS n_rows,
      |    CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |    CAST(SUM((pos * (doc_id % 1000003)) % 1000000007) % 1000000007
      |      AS BIGINT) AS order_fp,
      |    MIN(h) AS first_key, MAX(h) AS last_key
      |  FROM rp GROUP BY 1)
      |SELECT shard, COALESCE(r.n_rows, 0) AS n_rows,
      |  (r.n_rows IS NOT DISTINCT FROM m.n_rows) AS rows_ok,
      |  (r.id_sum IS NOT DISTINCT FROM m.id_sum) AS ids_ok,
      |  (r.order_fp IS NOT DISTINCT FROM m.order_fp) AS order_ok,
      |  (r.first_key IS NOT DISTINCT FROM m.first_key
      |   AND r.last_key IS NOT DISTINCT FROM m.last_key) AS range_ok
      |FROM rec r FULL OUTER JOIN man m USING (shard)
      |ORDER BY shard""".stripMargin

  // ----------------------------------------- d30 as-of store audit

  /** TIME-TRAVEL dedup audit ([[graft.llm.DedupStore.readAsOf]]): the
    * fingerprint store grows over three ingests (seed corpus → batch-1
    * 'newdoc' survivors → batch-2 'fresh' survivors), then a disputed
    * probe batch is re-classified against the store AS IT STOOD after
    * each ingest — "why was this document dropped last Tuesday?" answered
    * exactly, after later ingests landed. Every committed segment is an
    * immutable dated fact, so as-of N is just "segments ≤ N" — no
    * snapshot copies, no log replay; the monotone kept-counts
    * (asof0 ≥ asof1 ≥ asof2, strict where the probe re-publishes that
    * epoch's docs) VALUE-match DuckDB's cumulative-set replay, and
    * head_ok pins as-of-head ≡ the live read (same kept set, both ways).
    * Compaction interplay is spec territory: a fold carries an `_upto`
    * provenance sidecar, as-of at/after it reads the fold, as-of below
    * it REFUSES loudly (collapsed history is never silently
    * approximated) — DedupStoreSpec. */
  private def d30(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.DedupStore
    val hist = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = idOffset(hist)
    val b1 = hist.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(lit("newdoc "), col("text")).as("text"))
      .unionByName(hist.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2 * off).as("doc_id"),
          concat(col("text"), lit(" ")).as("text")))
    val b2 = hist.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 3 * off).as("doc_id"),
        concat(lit("fresh "), col("text")).as("text"))
    val root = staging("fpstore", dir) + "/" + storeInvocation.incrementAndGet()
    val histFps = Dedup.fingerprintStore(hist).localCheckpoint()
    DedupStore.appendFingerprints(s, root, 0L, histFps)
    val r1 = Dedup.incrementalExact(b1, DedupStore.readFingerprints(s, root))
      .localCheckpoint()
    DedupStore.appendFingerprints(s, root, 1L, r1)
    val r2 = Dedup.incrementalExact(b2, DedupStore.readFingerprints(s, root))
      .localCheckpoint()
    DedupStore.appendFingerprints(s, root, 2L, r2)
    // the disputed batch: re-publications of each epoch's content plus
    // genuinely new docs — each group flips from kept to dropped exactly
    // at the epoch whose ingest introduced its fingerprint
    val probe = hist.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 6 * off).as("doc_id"), col("text"))
      .unionByName(hist.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 7 * off).as("doc_id"),
          concat(lit("newdoc "), col("text")).as("text")))
      .unionByName(hist.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 8 * off).as("doc_id"),
          concat(lit("fresh "), col("text")).as("text")))
      .unionByName(hist.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 9 * off).as("doc_id"),
          concat(lit("probe "), col("text")).as("text")))
      .localCheckpoint()
    val k0 = Dedup.incrementalExact(probe, DedupStore.readAsOf(s, root, 0L))
    val k1 = Dedup.incrementalExact(probe, DedupStore.readAsOf(s, root, 1L))
    val k2 = Dedup.incrementalExact(probe, DedupStore.readAsOf(s, root, 2L))
      .localCheckpoint()
    val live = Dedup.incrementalExact(probe,
      DedupStore.readFingerprints(s, root))
    val headDiff = k2.select(col("fp"), col("doc_id")).withColumn("__a", lit(1))
      .join(live.select(col("fp"), col("doc_id")).withColumn("__b", lit(1)),
        Seq("fp", "doc_id"), "full_outer")
      .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L).otherwise(0L))
        .as("__n_mismatch"))
    probe.agg(count(lit(1)).as("n_probe"))
      .crossJoin(k0.agg(count(lit(1)).as("n_kept_asof0")))
      .crossJoin(k1.agg(count(lit(1)).as("n_kept_asof1")))
      .crossJoin(k2.agg(count(lit(1)).as("n_kept_asof2")))
      .crossJoin(broadcast(headDiff))
      .select(col("n_probe"), col("n_kept_asof0"), col("n_kept_asof1"),
        col("n_kept_asof2"),
        (coalesce(col("__n_mismatch"), lit(0L)) === 0L).as("head_ok"))
  }

  private val d30Sql =
    """WITH hist AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT MAX(doc_id) + 1 AS o FROM hist),
      |b1 AS (
      |  SELECT doc_id + (SELECT o FROM off) AS doc_id,
      |      'newdoc ' || text AS text FROM hist WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * (SELECT o FROM off), text || ' '
      |    FROM hist WHERE doc_id % 5 = 0),
      |b2 AS (SELECT doc_id + 3 * (SELECT o FROM off) AS doc_id,
      |    'fresh ' || text AS text FROM hist WHERE doc_id % 13 = 0),
      |storefp AS (SELECT DISTINCT
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM hist),
      |b1f AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM b1),
      |k1 AS (SELECT fp FROM b1f
      |  WHERE fp NOT IN (SELECT fp FROM storefp) GROUP BY 1),
      |b2f AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM b2),
      |k2 AS (SELECT fp FROM b2f
      |  WHERE fp NOT IN (SELECT fp FROM storefp)
      |    AND fp NOT IN (SELECT fp FROM k1) GROUP BY 1),
      |probe AS (
      |  SELECT doc_id + 6 * (SELECT o FROM off) AS doc_id, text
      |    FROM hist WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 7 * (SELECT o FROM off), 'newdoc ' || text
      |    FROM hist WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 8 * (SELECT o FROM off), 'fresh ' || text
      |    FROM hist WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT doc_id + 9 * (SELECT o FROM off), 'probe ' || text
      |    FROM hist WHERE doc_id % 17 = 0),
      |pf AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM probe),
      |a0 AS (SELECT fp FROM pf
      |  WHERE fp NOT IN (SELECT fp FROM storefp) GROUP BY 1),
      |a1 AS (SELECT fp FROM pf
      |  WHERE fp NOT IN (SELECT fp FROM storefp)
      |    AND fp NOT IN (SELECT fp FROM k1) GROUP BY 1),
      |a2 AS (SELECT fp FROM pf
      |  WHERE fp NOT IN (SELECT fp FROM storefp)
      |    AND fp NOT IN (SELECT fp FROM k1)
      |    AND fp NOT IN (SELECT fp FROM k2) GROUP BY 1)
      |SELECT CAST((SELECT COUNT(*) FROM probe) AS BIGINT) AS n_probe,
      |  CAST((SELECT COUNT(*) FROM a0) AS BIGINT) AS n_kept_asof0,
      |  CAST((SELECT COUNT(*) FROM a1) AS BIGINT) AS n_kept_asof1,
      |  CAST((SELECT COUNT(*) FROM a2) AS BIGINT) AS n_kept_asof2,
      |  TRUE AS head_ok""".stripMargin

  // ------------------------------------ d31 token-budget mixture sampling

  /** Training-corpus MIXTURE to a token budget
    * ([[graft.llm.Sampling.mixtureByTokens]]): 30/45/25 relative weights
    * over en/de/fr with the budget set to 55% of those strata's total
    * tokens — 'de' holds only ~20% of the tokens, so its water-fill share
    * CLAMPS to availability and the freed budget re-fills en/fr at 30:25.
    * Every number in the row — availability, the exact-integer quotas,
    * kept docs/tokens per stratum, the budget itself — is deterministic
    * arithmetic over md5-ordered prefixes, VALUE-matched by DuckDB
    * (quota fill is Long floor-division, the kept set is a hash-order
    * cumulative-sum prefix; nothing is sampled at random).
    *
    * ORACLE SCOPE: the DuckDB twin hard-codes exactly TWO water-fill
    * rounds (one clamp pass, one re-fill with no further clamp check),
    * while [[graft.llm.Sampling.mixtureByTokens]] cascades arbitrarily
    * many. The builder REPLAYS the fill on the per-stratum availabilities
    * (|weights| rows) and throws before running the query if the fixture
    * would need a third round — so a data/scale change can never make the
    * two sides silently diverge on a value-matched row. */
  private def d31(s: SparkSession, dir: String): DataFrame = {
    // token counting runs once: feeds the budget, availability, and the
    // kept-set cumulative
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      .localCheckpoint()
    val weights = Map("en" -> 3000L, "de" -> 4500L, "fr" -> 2500L)
    val weighted = docs.filter(col("lang").isin(weights.keys.toSeq: _*))
    val total = weighted.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    val budget = total * 55L / 100L
    val kept = Sampling.mixtureByTokens(docs, col("lang"),
      col("n_tokens"), col("doc_id"), weights, budget, salt = "g7")
    // ONE bounded collect of the |weights|-row availability: it feeds the
    // oracle-shape guard below AND (as a small created frame) the output
    // join — never recomputed as a second aggregation over the corpus
    val availMap = weighted.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("avail_tokens")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = s.createDataFrame(availMap.toSeq)
      .toDF("lang", "avail_tokens")
    // Guard the oracle's shape (see Scaladoc), mirroring the operator's
    // ACTIVE-set arithmetic exactly (mixtureByTokens filters weights to
    // strata with rows and divides by the active weight sum): (a) every
    // weighted stratum must have rows — the oracle's round-1 share
    // divides by SUM over ALL weights and would silently diverge from
    // the operator's active-sum on an absent stratum; (b) no stratum may
    // clamp again on the round-2 re-fill the oracle cannot express.
    require(weights.keySet.subsetOf(availMap.keySet),
      s"d31 oracle divides by the FULL weight sum but strata " +
        s"${(weights.keySet -- availMap.keySet).mkString(",")} have no " +
        "rows (the operator would drop them from its active set); fix " +
        "the fixture or rewrite d31Sql before value-matching")
    val w1 = weights.values.sum
    val clamped1 = weights.filter { case (l, wt) =>
      availMap(l) <= wt * budget / w1 }
    val b2 = budget - clamped1.keys.map(availMap).sum
    val rest = weights -- clamped1.keys
    val w2 = rest.values.sum max 1L
    val clamped2 = rest.filter { case (l, wt) => availMap(l) <= wt * b2 / w2 }
    require(clamped2.isEmpty,
      s"d31 oracle expresses exactly 2 water-fill rounds but strata " +
        s"${clamped2.keys.mkString(",")} clamp again on the round-2 " +
        "re-fill; rewrite d31Sql as a recursive fill before value-matching")
    val wDf = s.createDataFrame(weights.toSeq).toDF("lang", "wt")
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).as("tokens_kept"),
        max(col("mix_quota")).as("quota"))
      .join(avail, Seq("lang")).join(broadcast(wDf), Seq("lang"))
      .select(col("lang"), col("wt"), col("avail_tokens"), col("quota"),
        col("n_kept"), col("tokens_kept"), lit(budget).as("budget"))
      .orderBy(col("lang"))
  }

  private val d31Sql =
    """WITH base AS (SELECT doc_id, lang,
      |    CAST(len(CASE WHEN length(trim(text)) = 0
      |        THEN CAST([] AS VARCHAR[])
      |        ELSE regexp_split_to_array(trim(lower(text)), '\s+')
      |      END) AS BIGINT) AS t,
      |    substring(md5('g7' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      |  FROM documents WHERE lang IN ('en', 'de', 'fr')),
      |w AS (SELECT * FROM (VALUES ('en', CAST(3000 AS BIGINT)),
      |    ('de', CAST(4500 AS BIGINT)), ('fr', CAST(2500 AS BIGINT)))
      |  AS w(lang, wt)),
      |b AS (SELECT SUM(t) * 55 // 100 AS budget FROM base),
      |av AS (SELECT lang, SUM(t) AS avail FROM base GROUP BY 1),
      |r1 AS (SELECT av.lang, wt, avail,
      |    wt * (SELECT budget FROM b) // (SELECT SUM(wt) FROM w) AS share1
      |  FROM av JOIN w USING (lang)),
      |cl AS (SELECT lang, avail FROM r1 WHERE avail <= share1),
      |q AS (SELECT r1.lang, wt, avail,
      |    CASE WHEN avail <= share1 THEN avail
      |    ELSE wt * ((SELECT budget FROM b)
      |        - COALESCE((SELECT SUM(avail) FROM cl), 0))
      |      // (SELECT SUM(wt) FROM r1 WHERE avail > share1) END AS quota
      |  FROM r1),
      |cum AS (SELECT doc_id, lang, t,
      |    SUM(t) OVER (PARTITION BY lang
      |      ORDER BY h, CAST(doc_id AS VARCHAR)
      |      ROWS UNBOUNDED PRECEDING) AS c
      |  FROM base),
      |kept AS (SELECT cum.lang, COUNT(*) AS n_kept,
      |    SUM(t) AS tokens_kept
      |  FROM cum JOIN q ON cum.lang = q.lang AND c <= quota
      |  GROUP BY 1)
      |SELECT q.lang, wt, CAST(avail AS BIGINT) AS avail_tokens,
      |  CAST(quota AS BIGINT) AS quota, n_kept,
      |  CAST(tokens_kept AS BIGINT) AS tokens_kept,
      |  CAST((SELECT budget FROM b) AS BIGINT) AS budget
      |FROM q JOIN kept ON q.lang = kept.lang
      |ORDER BY q.lang""".stripMargin

  // --------------------------------- d32 leakage-safe cluster-aware split

  /** LEAKAGE-SAFE train/valid/test split
    * ([[graft.llm.Sampling.clusterAwareSplit]]): the d05 near-dup
    * clusters (3-gram Jaccard pairs → connected components, planted
    * `graftmarker` variants included) feed a split whose decision hashes
    * each cluster's min-id REPRESENTATIVE — so a near-duplicate of a
    * training document can never land in valid/test, the eval-hygiene
    * property a per-document content hash (d06) cannot give. Singletons
    * (docs in no pair, NULL after the left join) represent themselves.
    * Everything is deterministic md5 arithmetic: the oracle reproduces
    * the clusters (the shared d05 recursive CTE), the representatives,
    * the bucket rule, and the per-split doc/cluster/id-sum counts, and
    * both sides COMPUTE the no-straddle contract rather than asserting
    * it. */
  private def d32(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir).localCheckpoint()
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
      maxDf = 1000)
    val labels = Dedup.connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    val assigned = Sampling.clusterAwareSplit(
      docs.join(labels, Seq("doc_id"), "left"),
      col("doc_id"), col("cluster_id"), salt = "g9")
    def eff = coalesce(col("cluster_id"), col("doc_id"))
    // the contract, MEASURED: max distinct splits over any cluster (one
    // row, broadcast back — in-plan, no driver action)
    val straddle = assigned.groupBy(eff.as("c"))
      .agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k")).as("maxk"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(eff).as("n_clusters"),
        sum(col("doc_id")).cast("bigint").as("id_sum"))
      .crossJoin(broadcast(straddle))
      .select(col("split"), col("n_docs"), col("n_clusters"), col("id_sum"),
        (col("maxk") === 1).as("no_straddle"))
      .orderBy(col("split"))
  }

  private val d32Sql =
    s"""$clusterCte,
       |alld AS (SELECT doc_id FROM docs2),
       |eff AS (SELECT a.doc_id, COALESCE(l.cluster_id, a.doc_id) AS c
       |  FROM alld a LEFT JOIN labels l ON a.doc_id = l.doc_id),
       |reps AS (SELECT c, MIN(doc_id) AS rep FROM eff GROUP BY 1),
       |sp AS (SELECT c,
       |    CASE WHEN substring(md5('g9' || CAST(rep AS VARCHAR)), 1, 2)
       |        < 'cc' THEN 'train'
       |      WHEN substring(md5('g9' || CAST(rep AS VARCHAR)), 1, 2)
       |        < 'e6' THEN 'valid'
       |      ELSE 'test' END AS split
       |  FROM reps),
       |m AS (SELECT doc_id, eff.c, split FROM eff JOIN sp ON eff.c = sp.c),
       |st AS (SELECT COALESCE(MAX(k), 0) AS maxk FROM (
       |    SELECT COUNT(DISTINCT split) AS k FROM m GROUP BY c))
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(COUNT(DISTINCT c) AS BIGINT) AS n_clusters,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  (SELECT maxk FROM st) = 1 AS no_straddle
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  private[graft] val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> (d01 _),
    "d02_minhash_lsh_pairs" -> (d02 _),
    "d03_simhash_pairs" -> (d03 _),
    "d04_ngram_jaccard_pairs" -> (d04 _),
    "d05_dup_clusters" -> (d05 _),
    "d06_hash_split" -> (d06 _),
    "d07_contamination" -> (d07 _),
    "d10_decontaminate" -> (d10 _),
    "d12_bloom_decontaminate" -> (d12 _),
    "d13_weighted_sample" -> (d13 _),
    "d14_temperature_mix" -> (d14 _),
    "d08_stratified_sample" -> (d08 _),
    "d09_cluster_keep" -> (d09 _),
    "d11_cap_sample" -> (d11 _),
    "d15_robust_outliers" -> (d15 _),
    "d16_incremental_dedup" -> (d16 _),
    "d17_group_split" -> (d17 _),
    "d18_incremental_neardup" -> (d18 _),
    "d19_store_append" -> (d19 _),
    "d20_robust_outliers_gk" -> (d20 _),
    "d21_neardup_store_append" -> (d21 _),
    "d22_semantic_decontaminate" -> (d22 _),
    "d23_diverse_sample" -> (d23 _),
    "d24_incremental_semantic_neardup" -> (d24 _),
    "d25_semantic_store_append" -> (d25 _),
    "d26_exact_cap_sample" -> (d26 _),
    "d27_shard_manifest" -> (d27 _),
    "d28_capped_pairs" -> (d28 _),
    "d29_export_audit" -> (d29 _),
    "d30_store_asof" -> (d30 _),
    "d31_token_mixture" -> (d31 _),
    "d32_cluster_split" -> (d32 _))

  private[graft] val oracleSql: Map[String, String] = Map(
    "d01_exact_dedup" -> d01Sql,
    "d02_minhash_lsh_pairs" -> d02Sql,
    "d03_simhash_pairs" -> d03Sql,
    "d04_ngram_jaccard_pairs" -> d04Sql,
    "d05_dup_clusters" -> d05Sql,
    "d06_hash_split" -> d06Sql,
    "d07_contamination" -> d07Sql,
    "d10_decontaminate" -> d10Sql,
    "d12_bloom_decontaminate" -> d12Sql,
    "d13_weighted_sample" -> d13Sql,
    "d14_temperature_mix" -> d14Sql,
    "d08_stratified_sample" -> d08Sql,
    "d09_cluster_keep" -> d09Sql,
    "d11_cap_sample" -> d11Sql,
    "d15_robust_outliers" -> d15Sql,
    "d16_incremental_dedup" -> d16Sql,
    "d17_group_split" -> d17Sql,
    "d18_incremental_neardup" -> d18Sql,
    "d19_store_append" -> d19Sql,
    "d20_robust_outliers_gk" -> d20Sql,
    "d21_neardup_store_append" -> d21Sql,
    "d22_semantic_decontaminate" -> d22Sql,
    "d23_diverse_sample" -> d23Sql,
    "d24_incremental_semantic_neardup" -> d24Sql,
    "d25_semantic_store_append" -> d25Sql,
    "d26_exact_cap_sample" -> d26Sql,
    "d27_shard_manifest" -> d27Sql,
    "d28_capped_pairs" -> d28Sql,
    "d29_export_audit" -> d29Sql,
    "d30_store_asof" -> d30Sql,
    "d31_token_mixture" -> d31Sql,
    "d32_cluster_split" -> d32Sql)
}
