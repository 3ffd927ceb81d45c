package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (north-star surface, SURVEY.md
  * §2.2): exact, MinHash+LSH near-dup candidates, exact n-gram Jaccard on
  * the candidates, and SimHash sketches.
  *
  * Portability design (so DuckDB oracles reproduce results bit-for-bit):
  * the only hash primitive is md5 (identical in both engines); its first 5
  * hex chars become a 20-bit integer, and the k MinHash functions are
  * universal-hash perturbations `(a_i*h + b_i) mod P` in int64 arithmetic
  * that cannot overflow (a_i, h < 2^20 → product < 2^40).
  *
  * Scale design: everything before the LSH self-join is a per-row map
  * (no shuffle, no UDF). The self-join shuffles only the banded keys
  * (4 rows × ~30 bytes per doc — not the documents), which is the textbook
  * 100 TB near-dup layout; AQE's skew handling covers pathological buckets
  * (e.g. boilerplate-identical docs).
  */
object Dedup {

  // ---- shared LSH parameters (16 hashes = 4 bands × 4 rows) ----
  // Per-bucket pair-emission cap (see [[bucketPairs]] for the skew
  // rationale). Declared BEFORE the oracle SQL vals that interpolate it
  // — object vals initialize in order and a forward reference would
  // silently interpolate 0. Shared with [[Multimodal]]'s q108 oracle so
  // engine and oracle cap identically on a degenerate corpus.
  private[queries] val MaxBucket = 10000
  private val P = 1048573L // largest prime < 2^20
  private val K = 16
  private val Bands = 4
  private val RowsPerBand = K / Bands
  private val As: Seq[Long] =
    (1 to K).map(i => (i.toLong * 2654435761L) % P).map(a => if (a == 0) 1L else a)
  private val Bs: Seq[Long] = (1 to K).map(i => (i.toLong * 40503L) % P)
  private val aList = As.mkString(", ")
  private val bList = Bs.mkString(", ")

  /** Shared guarded 3-token shingle expression (see [[TextExprs]]); the
    * HOF md5/minhash pipeline the native MinHashSig replaces lives only in
    * ExpressionsSpec, where bit-equality is actually enforced. */
  private[queries] val shinglesExpr = TextExprs.shingles3("toks")

  /** DuckDB twins. */
  private[queries] val sqlShingled =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |shingled AS (
      |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
      |    i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS sh
      |  FROM toks)""".stripMargin
  // Oracle-cost discipline: the original list-lambda form
  // (list_min(list_transform(hs, ...)) per permutation) materialized a
  // fresh K-element list per doc per perm and cost 13.7 s at sf0.1 —
  // and every member of the dedup family pays it. The row form below
  // (unnest shingles, then K plain MIN aggregates) is the identical
  // function — min over the same affine-hash values — vectorized by
  // DuckDB's columnar engine: 0.5 s at sf0.1, byte-identical cand set
  // (checked at all three SFs). hx is MATERIALIZED so the recursive
  // closure oracles (q65/q65b/q117/q159) don't re-inline the hash
  // chain at every reach reference.
  private[queries] val sqlMinhash =
    s"""hx AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(unnest(sh)), 1, 5) AS BIGINT) AS h
       |  FROM shingled),
       |mhr AS (
       |  SELECT doc_id, ${As.zip(Bs).zipWithIndex.map { case ((a, b), i) =>
            s"MIN(($a * h + $b) % $P) AS m${i + 1}" }.mkString(",\n       |    ")}
       |  FROM hx GROUP BY doc_id),
       |banded AS (
       |${(0 until Bands).map { bd =>
            val ks = (1 to RowsPerBand)
              .map(j => s"m${bd * RowsPerBand + j}").mkString(", ")
            s"  SELECT doc_id, $bd AS band, concat_ws(',', $ks) AS bkey FROM mhr"
          }.mkString("\n       |  UNION ALL\n       |")}),
       |bcap AS (
       |  SELECT doc_id, band, bkey FROM (
       |    SELECT doc_id, band, bkey, ROW_NUMBER() OVER (
       |      PARTITION BY band, bkey ORDER BY doc_id) AS rn
       |    FROM banded) WHERE rn <= $MaxBucket),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM bcap x JOIN bcap y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)"""
      .stripMargin

  /** Banded (doc_id, band, bkey) frame — the LSH index. The signature is
    * the native codegen'd [[graft.functions.MinHashSig]] (bit-compatible
    * with [[minhashExpr]], which the oracle SQL mirrors; the HOF variant is
    * kept above as documentation and spec-tested for equivalence). */
  /** Band (doc_id, band, bkey) rows for an ARBITRARY (doc_id, text)
    * frame — the reusable form of the corpus [[banded]] for callers that
    * band frames not loaded from a table dir. The streaming
    * incremental-dedup path ([[graft.streaming.IncrementalDedup]]) bands
    * each micro-batch through THIS function, so stream and batch
    * signatures are bit-identical by construction. */
  def bandedOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bandsFromSigs(sigsOf(docs))

  /** Raw 16-hash MinHash signatures for an arbitrary (doc_id, text)
    * frame — the first stage of [[bandedOf]], split out so the corpus
    * path can pin it as a shared artifact ([[sigFrame]]). */
  private def sigsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("mh", expr("minhash_sig(toks)"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id"), col("mh"))
  }

  /** Band a (doc_id, mh) signature frame under the shared (Bands,
    * RowsPerBand) config. */
  private def bandsFromSigs(sigs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    sigs
      // array_distinct is a semantic no-op (band indices are unique) that
      // acts as a materialization barrier: exploding a bare lambda chain
      // re-pays the transform per emitted row — measured 1.17 s vs 0.49 s
      // at sf0.1 (same trap as q73's shingles, TextAnalysis.scala)
      .select(col("doc_id"), expr(
        s"""explode(array_distinct(transform(sequence(0, ${Bands - 1}), b ->
           |  struct(b AS band,
           |    concat_ws(',', slice(mh, b * $RowsPerBand + 1, $RowsPerBand))
           |      AS bkey))))""".stripMargin).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))

  /** The corpus SIGNATURE frame (doc_id, mh) — a shared, pinned index
    * artifact like [[candidates]]/[[pairStats]]: a production dedup
    * deployment computes signatures once per corpus snapshot and every
    * banding config / estimation pass reads the stored sketches (16
    * longs/doc — sketch-sized at any scale). q196 re-bands it per
    * config, [[banded]] derives the standard-config bands from it, so
    * neither re-tokenizes the corpus. Memoized per (session, corpus);
    * released via Resources.releaseAll. */
  private val sigFrameCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.DataFrame]
  private val sigFrameHook = new java.util.concurrent.atomic.AtomicBoolean
  private[queries] def sigFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    if (sigFrameHook.compareAndSet(false, true))
      graft.Resources.onReleaseAll(() => sigFrameCache.clear())
    // plain localCheckpoint, NOT compactCheckpoint: every consumer
    // fans the 16-long rows out (band explode ×4 configs, zip_with
    // match counts), so collapsing the frame to partsFor(nDocs)
    // partitions serializes that work — measured q196 1.7 → 1.9 s
    // under the compacted form vs 1.0 s at scan parallelism
    sigFrameCache.getOrElseUpdate(s"${graft.Resources.sessionKey(s)}:$d",
      graft.Resources.retain(
        sigsOf(Tables.documents(s, d)).localCheckpoint(true)))
  }

  /** Distinct-shingle sets for an arbitrary (doc_id, text) frame — the
    * verification side of the near-dup contract, shared by the batch
    * queries and the streaming incremental-dedup probe. */
  def shingleSetsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("shset", expr(s"array_distinct($shinglesExpr)"))
      .select(col("doc_id"), col("shset"))

  private def banded(s: org.apache.spark.sql.SparkSession, d: String) =
    bandsFromSigs(sigFrame(s, d))

  /** LSH candidate pairs (doc1 < doc2). Single-pass: group each bucket,
    * emit intra-bucket pairs — the expensive signature pipeline runs once
    * (a self-join would compute it twice and shuffle both sides), and the
    * one shuffle carries only (band, bkey, doc_id) — never documents.
    *
    * Skew honesty: collect_list concentrates a bucket on ONE reduce task
    * and AQE does NOT split skewed groupBy keys (only join partitions), so
    * a mass-duplicated-boilerplate bucket with millions of members would
    * OOM the task and its all-pairs output would be quadratic anyway. The
    * cap below keeps the first `MaxBucket` ids (sorted — deterministic,
    * still linking every kept doc) and exposes the overflow per bucket in
    * the bucket size rather than silently: a bucket that large IS one
    * duplicate cluster, and pairing its first N members already marks the
    * cluster; production would additionally route
    * `size(all_ids) > MaxBucket` buckets to a cluster report. The DuckDB
    * oracles mirror the cap (a per-bucket ROW_NUMBER bound), so engine
    * and oracle stay in lockstep even when a bucket overflows.
    * [[MaxBucket]] itself is declared with the shared LSH parameters. */

  /** The candidate-pair set is a shared INDEX artifact (like the IVF
    * index): q31 emits it, q33/q37 verify against it, q64 derives the
    * keep decision from it. Build it once per (session, corpus) and
    * persist — four queries over one corpus must not run the signature
    * pipeline four times. [[ensureCandidateIndex]] is the warmup/setup
    * entry point (bench calls it; first query otherwise pays the build). */
  private val candCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]
  private[queries] def candidates(s: org.apache.spark.sql.SparkSession, d: String) =
    candCache.getOrElseUpdate(s"${graft.Resources.sessionKey(s)}:$d",
      buildCandidates(s, d).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Offline build entry point (idempotent per session+corpus). */
  def ensureCandidateIndex(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    candidates(s, d).count()
    ()
  }

  /** The rarest-first ordered shingle frames are the shared artifact of
    * the EXACT-join family: q132 (Jaccard) and q150 (containment) both
    * need (shing = per-doc distinct 40-bit shingle sets, ordered =
    * global-(df, hash)-ordered arrays with sizes) over the identical
    * hash domain. Build once per (session, corpus) and persist — the
    * candidate-index lifecycle; a corpus runs N exact joins over one
    * ordering. Released with [[releaseCandidateIndex]]. */
  private val shingleCache = scala.collection.concurrent.TrieMap
    .empty[String, (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame)]
  private[queries] def orderedShingles(
      s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) =
    shingleCache.getOrElseUpdate(s"${graft.Resources.sessionKey(s)}:$d", {
      val shing = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), expr(
          s"array_distinct(transform($shinglesExpr, s -> $hash40))")
          .as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ex = shing.select(col("doc_id"), explode(col("sh")).as("h"))
      val dfc = ex.groupBy("h").agg(count(lit(1)).as("df"))
      val ordered = ex.join(dfc, "h")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("h"))))
          .as("o"))
        .select(col("doc_id"), size(col("o")).as("sz"),
          expr("transform(o, x -> x.h)").as("osh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (shing, ordered)
    })

  /** Offline build entry point (idempotent per session+corpus). */
  def ensureShingleIndex(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val (shing, ordered) = orderedShingles(s, d)
    shing.count()
    ordered.count()
    ()
  }

  /** Release every cached candidate index built on `s` (all corpora).
    * Call when the session's dedup work is over — Verify/Bench do, so no
    * persisted frame outlives a run; long-lived sessions call it between
    * corpus generations. */
  /** Shared CLUSTER-LABEL artifact: the min-label CC fixpoint over the
    * verified-pair graph is what q65 reports, q117 sizes, q159 merges
    * on, and q161 splits by — a production dedup job materializes the
    * clustering ONCE and every downstream consumer reads it. Memoized
    * per (session, corpus); the frame itself is the operator's
    * Resources-retained localCheckpoint, so the memo registers a
    * [[graft.Resources.onReleaseAll]] hook — releaseAll kills the
    * checkpoint, and the hook clears the memo in the same breath so the
    * next caller rebuilds instead of reading a dead frame. (q65b stays
    * OUTSIDE the cache on purpose: it exists to exercise the
    * alternating-star algorithm, not to reuse this fixpoint.) */
  // ConcurrentHashMap, not TrieMap: computeIfAbsent evaluates the build
  // at most once per absent key under the bin lock, so two concurrent
  // first callers can't both run the CC fixpoint and strand the loser's
  // retained checkpoint (TrieMap.getOrElseUpdate may evaluate twice and
  // discard one result).
  private val labelsCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.DataFrame]
  private val labelsHook = new java.util.concurrent.atomic.AtomicBoolean
  private[queries] def clusterLabels(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    if (labelsHook.compareAndSet(false, true))
      graft.Resources.onReleaseAll(() => labelsCache.clear())
    labelsCache.computeIfAbsent(s"${graft.Resources.sessionKey(s)}:$d", _ => {
      val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
      val edges = verifiedPairs(s, d)
        .select(col("doc1").as("src"), col("doc2").as("dst"))
      graft.operators.ConnectedComponents.labels(nodes, edges)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
    })
  }

  /** Offline build entry point (idempotent per session+corpus). */
  def ensureClusterLabels(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    clusterLabels(s, d).count()
    ()
  }

  def releaseCandidateIndex(s: org.apache.spark.sql.SparkSession): Unit = {
    val prefix = s"${graft.Resources.sessionKey(s)}:"
    // the label memo points at Resources-owned checkpoints; dropping the
    // keys here is enough (the storage is released by releaseAll, and
    // the onReleaseAll hook clears any entries for OTHER sessions too)
    labelsCache.keySet.removeIf(_.startsWith(prefix))
    candCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      candCache.remove(k).foreach { df =>
        try df.unpersist()
        catch { case _: Throwable => () }
      }
    }
    // the ordered-shingle index shares the release point: both are
    // Dedup's per-(session, corpus) persisted artifacts
    shingleCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      shingleCache.remove(k).foreach { case (shing, ordered) =>
        try { shing.unpersist(); ordered.unpersist() }
        catch { case _: Throwable => () }
      }
    }
    // the signature frame is the candidate index's substrate (banded
    // derives from it) — releasing the index releases it too, or a
    // rebuild-then-release cycle leaks the checkpoint (HygieneSpec)
    sigFrameCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      sigFrameCache.remove(k).foreach { df =>
        try df.unpersist()
        catch { case _: Throwable => () }
        graft.Resources.releaseCheckpoint(df)
      }
    }
  }

  /** Intra-bucket pair emission shared by the MinHash (q31) and SimHash
    * (q80) LSH paths: group each (band, bkey) bucket, emit sorted
    * all-pairs capped at `cap` ([[MaxBucket]]) members — one shuffle
    * carrying only keys and ids, never documents. The cap is a skew
    * defense, NOT free: a boilerplate-degenerate bucket silently drops
    * candidates past it — q199 counts exactly what was dropped so a
    * run can see the recall erosion (`cap` is a parameter so the q199
    * spec can force a degenerate bucket at test scale).
    *
    * The cap is enforced BEFORE aggregation: a `row_number() <= cap`
    * rank filter drops past-cap bucket members so `collect_list` never
    * buffers more than `cap` ids per bucket. The output is identical to
    * capping after the fact (row_number over doc_id asc keeps exactly
    * the sorted prefix the old `slice(sort_array(...), 1, cap)` kept),
    * but the reduce-task buffer is now bounded: at 100 TB a
    * boilerplate-degenerate bucket (millions of identical-key docs)
    * costs a discarded stream of rows instead of an executor-OOM-sized
    * array in one aggregation buffer. Catalyst turns the rank filter
    * into a [[org.apache.spark.sql.execution.window.WindowGroupLimitExec]]
    * with a Partial mode BELOW the shuffle, so past-cap members are
    * dropped map-side and never shuffled at all (pinned by
    * CapBufferSpec). The window's hash partitioning matches the
    * groupBy's, so no second exchange is introduced. */
  private[queries] def bucketPairs(bandedFrame: org.apache.spark.sql.DataFrame,
      cap: Int = MaxBucket) = {
    require(cap >= 2, s"bucket cap must be >= 2 to emit any pair, got $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))
    bandedFrame
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      // array_distinct barrier (pairs are unique by i<j construction) —
      // see banded() above for why exploding a bare lambda chain is slow
      .select(explode(expr(
        """array_distinct(flatten(transform(sequence(0, size(ids) - 2), i ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |    d2 -> struct(ids[i] AS doc1, d2 AS doc2)))))""".stripMargin))
        .as("p"))
      .select(col("p.doc1"), col("p.doc2")).distinct()
  }

  /** [[bucketPairs]] with a per-bucket carry column (any expression of
    * `band`/`bkey` — q196 derives its (bands, rows_per_band) config
    * from the band id); pairs dedup PER carry value, so one grouped
    * shuffle serves several disjoint-keyed banding schemes at once.
    * Same pre-aggregation rank cap as [[bucketPairs]] — the
    * `collect_list` buffer is bounded at [[MaxBucket]] per
    * (cfg, band, bkey) bucket. */
  private[queries] def bucketPairsBy(
      bandedFrame: org.apache.spark.sql.DataFrame,
      carry: org.apache.spark.sql.Column) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cfg"), col("band"), col("bkey")).orderBy(col("doc_id"))
    bandedFrame
      .withColumn("cfg", carry)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MaxBucket)
      .groupBy(col("cfg"), col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("cfg"), explode(expr(
        """array_distinct(flatten(transform(sequence(0, size(ids) - 2), i ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |    d2 -> struct(ids[i] AS doc1, d2 AS doc2)))))""".stripMargin))
        .as("p"))
      .select(col("cfg"), col("p.doc1"), col("p.doc2")).distinct()
  }

  private def buildCandidates(s: org.apache.spark.sql.SparkSession, d: String) =
    bucketPairs(banded(s, d))

  // ------------------------------------------------------------- q30
  // Exact dedup: group on full text, keep the smallest doc_id as the
  // canonical survivor (hash-groupBy; at 100 TB group on md5(text) first
  // to shuffle 16-byte keys instead of document bodies).
  private val q30 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id")),
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id,
      |  COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY canonical_id""".stripMargin)

  // ------------------------------------------------------------- q31
  // MinHash + LSH near-dup candidate pairs.
  private val q31 = QueryDef.of(
    (s, d) => candidates(s, d).orderBy(col("doc1"), col("doc2")),
    s"""$sqlShingled,
       |$sqlMinhash
       |SELECT doc1, doc2 FROM cand
       |ORDER BY doc1, doc2""".stripMargin)

  // ------------------------------------------------------------- q32
  // SimHash: 16-bit sketch, majority vote per bit over distinct-token
  // 20-bit hashes — the native [[graft.functions.SimHash]] expression
  // (bit-equality with the interpreted HOF pipeline is spec-tested in
  // ExpressionsSpec). Pure per-row map — embarrassingly parallel.
  private val q32 = QueryDef.of(
    (s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), expr("simhash_sig(toks)").as("simhash"))
        .orderBy(col("doc_id"))
    },
    """WITH t AS (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
      |    tk -> CAST('0x' || substring(md5(tk), 1, 5) AS BIGINT)) AS ths
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(list_sum(list_transform(range(0, 16), j ->
      |    CASE WHEN list_sum(list_transform(ths,
      |           h -> CAST((h >> j) & 1 AS INT) * 2 - 1)) > 0
      |         THEN (1 << j) ELSE 0 END)) AS BIGINT) AS simhash
      |FROM t
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q33
  // Exact 3-gram Jaccard on the LSH candidates: the verify stage of the
  // near-dup pipeline (candidates are ~10^-6 of all pairs, so the exact
  // set comparison touches almost nothing — that asymmetry is the point).
  private val q33 = QueryDef.of(
    (s, d) =>
      // reads the pinned verify artifact (see [[pairStats]]); the
      // jaccard double is the same inter/uni division the inline form
      // computed — identical integers, identical IEEE result
      pairStats(s, d)
        .withColumn("jaccard",
          col("inter").cast("double") / col("uni"))
        .filter(col("inter") * 2 >= col("uni"))
        .select(col("doc1"), col("doc2"), col("jaccard"))
        .orderBy(col("doc1"), col("doc2")),
    s"""$sqlShingled,
       |$sqlMinhash,
       |sets AS (
       |  SELECT doc_id, list_distinct(sh) AS shset FROM shingled)
       |SELECT doc1, doc2,
       |  CAST(len(list_filter(a.shset, x -> list_contains(b.shset, x))) AS DOUBLE)
       |    / len(list_distinct(list_concat(a.shset, b.shset))) AS jaccard
       |FROM cand JOIN sets a ON cand.doc1 = a.doc_id
       |          JOIN sets b ON cand.doc2 = b.doc_id
       |WHERE CAST(len(list_filter(a.shset, x -> list_contains(b.shset, x))) AS DOUBLE)
       |    / len(list_distinct(list_concat(a.shset, b.shset))) >= 0.5
       |ORDER BY doc1, doc2""".stripMargin)

  // ------------------------------------------------------------- q35
  // Per-language vocabulary similarity via the custom typed Aggregator
  // [[graft.functions.MinHashUnionAgg]]: element-wise min of document
  // signatures = signature of the union of their shingle sets, so the
  // equal-position fraction between two groups estimates the Jaccard
  // similarity of their combined vocabularies. Mergeable → map-side
  // partial aggregation; the shuffle carries one 16-long array per
  // (group × partition).
  private val q35 = QueryDef.of(
    (s, d) => {
      graft.functions.VectorFunctions.register(s)
      val mhUnion = udaf(graft.functions.MinHashUnionAgg)
      val sigs = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("mh", expr("minhash_sig(toks)"))
        .filter(col("mh").isNotNull)
        .groupBy(col("lang"))
        .agg(mhUnion(col("mh")).as("sig"))
      val a = sigs.select(col("lang").as("lang1"), col("sig").as("sig1"))
      val b = sigs.select(col("lang").as("lang2"), col("sig").as("sig2"))
      a.join(b, col("lang1") < col("lang2"))
        .select(col("lang1"), col("lang2"),
          // cast the count to double BEFORE the divide so the result type
          // is unambiguously DOUBLE on both engines (round-1 q35 driver
          // hash diverged on int/16.0 vs DECIMAL resolution; q33 pins the
          // same way)
          expr("cast(size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) as double) / 16.0")
            .as("est_jaccard"))
        .orderBy(col("lang1"), col("lang2"))
    },
    // positionwise min of per-doc signatures = min over ALL the lang's
    // shingle hashes per permutation (min is associative), so the
    // oracle skips the per-doc layer entirely: unnest to (lang, h)
    // rows, 16 plain MIN aggregates per lang — the sqlMinhash row-form
    // discipline (the list-lambda original cost 17.1 s at sf0.1; this
    // is 0.5 s, identical signatures)
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT lang, list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS sh
       |  FROM t WHERE len(toks) >= 3),
       |hx AS MATERIALIZED (
       |  SELECT lang,
       |    CAST('0x' || substring(md5(unnest(sh)), 1, 5) AS BIGINT) AS h
       |  FROM sh),
       |sig AS (
       |  SELECT lang, ${As.zip(Bs).zipWithIndex.map { case ((a, b), i) =>
            s"MIN(($a * h + $b) % $P) AS m${i + 1}" }
            .mkString(",\n       |    ")}
       |  FROM hx GROUP BY lang)
       |SELECT a.lang AS lang1, b.lang AS lang2,
       |  CAST(${(1 to K).map(i =>
            s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
            .mkString(" +\n       |    ")} AS DOUBLE)
       |    / 16.0 AS est_jaccard
       |FROM sig a JOIN sig b ON a.lang < b.lang
       |ORDER BY lang1, lang2""".stripMargin)

  // ------------------------------------------------------------- q37
  // Edit-distance verification of the LSH candidates: character-level
  // Levenshtein (identical definitions in Spark and DuckDB) as a second,
  // independent near-dup signal alongside q33's shingle Jaccard. Runs
  // only on the ~10^-6 candidate fraction — O(len²) per pair is fine
  // there and nowhere else.
  private val q37 = QueryDef.of(
    (s, d) => {
      val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val a = texts.withColumnsRenamed(Map("doc_id" -> "doc1", "text" -> "t1"))
      val b = texts.withColumnsRenamed(Map("doc_id" -> "doc2", "text" -> "t2"))
      // Levenshtein is O(len²) per pair — cap at a 500-char prefix (the
      // standard bounded-cost practice; near-dups diverge early anyway)
      candidates(s, d).join(a, "doc1").join(b, "doc2")
        .withColumn("p1", substring(col("t1"), 1, 500))
        .withColumn("p2", substring(col("t2"), 1, 500))
        .select(col("doc1"), col("doc2"),
          levenshtein(col("p1"), col("p2")).cast("bigint").as("edit_dist"),
          (levenshtein(col("p1"), col("p2")).cast("double") /
            greatest(length(col("p1")), length(col("p2"))))
            .as("edit_ratio"))
        .orderBy(col("doc1"), col("doc2"))
    },
    s"""$sqlShingled,
       |$sqlMinhash
       |SELECT doc1, doc2,
       |  levenshtein(substring(a.text, 1, 500), substring(b.text, 1, 500)) AS edit_dist,
       |  CAST(levenshtein(substring(a.text, 1, 500), substring(b.text, 1, 500)) AS DOUBLE)
       |    / greatest(length(substring(a.text, 1, 500)),
       |               length(substring(b.text, 1, 500))) AS edit_ratio
       |FROM cand
       |JOIN documents a ON cand.doc1 = a.doc_id
       |JOIN documents b ON cand.doc2 = b.doc_id
       |ORDER BY doc1, doc2""".stripMargin)

  // ------------------------------------------------------------- q64
  // The dedup DECISION: which documents survive near-dup removal. Rule
  // (the standard keep-smallest-id policy, 1-hop): a doc is dropped iff a
  // VERIFIED near-duplicate (LSH candidate with exact shingle Jaccard
  // ≥ 0.5, i.e. q33's pairs) exists with a smaller doc_id; its canonical
  // points at the smallest such partner. One left join of the corpus
  // id-list against the (tiny) verified-pair set — the corpus never
  // shuffles its bodies, and at 100 TB the pair set is the ~10^-6
  // candidate fraction that survived verification.
  /** Exact per-candidate (intersection, union) shingle-overlap stats —
    * the VERIFY artifact, memoized per (session, corpus) like the
    * candidate index it derives from: q33 emits pairs+jaccard from it,
    * [[verifiedPairs]] thresholds it at 0.5 (feeding q64/q65/q192 and
    * the cluster-label build), q170 sweeps it at 50/95/98 %. Before
    * r12 each of those queries re-ran the whole verify pass — corpus
    * scan, shingle transform ×2, candidate join — per query; a
    * production dedup job materializes the verified-pair stats once.
    *
    * Two scale choices inside the build: shingle sets are computed only
    * for candidate ENDPOINTS (a broadcast semi-join before the
    * transform — candidates are ~10⁻⁶ of all pairs, so endpoints are a
    * sliver of the corpus and the expensive array work never touches
    * the rest), and the result is localCheckpoint-pinned (pair-count-
    * sized, id+two-long rows). Exact integer (inter, uni) make every
    * downstream threshold exact: inter/uni ≥ t/100 ⟺ inter·100 ≥ uni·t
    * (q170's documented equivalence, incl. the IEEE-exact t = 50). */
  private val pairStatsCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.DataFrame]
  private val pairStatsHook = new java.util.concurrent.atomic.AtomicBoolean
  private[queries] def pairStats(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    if (pairStatsHook.compareAndSet(false, true))
      graft.Resources.onReleaseAll(() => pairStatsCache.clear())
    pairStatsCache.computeIfAbsent(s"${graft.Resources.sessionKey(s)}:$d", _ => {
      val cand = candidates(s, d)
      val ep = cand.select(col("doc1").as("doc_id"))
        .union(cand.select(col("doc2").as("doc_id"))).distinct()
      val sets = Tables.documents(s, d)
        .join(broadcast(ep), Seq("doc_id"), "left_semi")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("shset", expr(s"array_distinct($shinglesExpr)"))
        .select(col("doc_id"), col("shset"))
      val a = sets.withColumnsRenamed(Map("doc_id" -> "doc1", "shset" -> "sa"))
      val b = sets.withColumnsRenamed(Map("doc_id" -> "doc2", "shset" -> "sb"))
      graft.Resources.retain(graft.Tuning.compactCheckpoint(
        cand.join(a, "doc1").join(b, "doc2")
          .select(col("doc1"), col("doc2"),
            size(array_intersect(col("sa"), col("sb"))).cast("long")
              .as("inter"),
            size(array_union(col("sa"), col("sb"))).cast("long")
              .as("uni"))))
    })
  }

  /** Verified near-dup pairs: LSH candidates whose exact shingle Jaccard
    * clears 0.5 — the pair set q33 emits, shared by q64/q65/q192. Reads
    * the pinned [[pairStats]]; inter·2 ≥ uni is the exact-integer form
    * of jaccard ≥ 0.5 (equivalence documented at pairStats). */
  private def verifiedPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    pairStats(s, d)
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc1"), col("doc2"))

  private val q64 = QueryDef.of(
    (s, d) => {
      val verified = verifiedPairs(s, d)
        .groupBy(col("doc2").as("doc_id"))
        .agg(min(col("doc1")).as("dup_of"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(verified, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("dup_of").isNull.cast("int").as("keep"),
          coalesce(col("dup_of"), col("doc_id")).as("canonical"))
        .orderBy(col("doc_id"))
    },
    s"""$sqlShingled,
       |$sqlMinhash,
       |sets AS (
       |  SELECT doc_id, list_distinct(sh) AS shset FROM shingled),
       |verified AS (
       |  SELECT doc2 AS doc_id, MIN(doc1) AS dup_of
       |  FROM cand JOIN sets a ON cand.doc1 = a.doc_id
       |            JOIN sets b ON cand.doc2 = b.doc_id
       |  WHERE CAST(len(list_filter(a.shset, x -> list_contains(b.shset, x))) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.shset, b.shset))) >= 0.5
       |  GROUP BY doc2)
       |SELECT d.doc_id,
       |  CAST(v.doc_id IS NULL AS INT) AS keep,
       |  COALESCE(v.dup_of, d.doc_id) AS canonical
       |FROM documents d LEFT JOIN verified v ON d.doc_id = v.doc_id
       |ORDER BY d.doc_id""".stripMargin)

  // ------------------------------------------------------------- q65
  // Duplicate CLUSTERS: connected components over the verified pair
  // graph ([[graft.operators.ConnectedComponents]], min-label
  // propagation — pairs say a≈b, b≈c; the cluster {a,b,c} needs
  // transitive closure). q64's 1-hop rule answers keep/drop; this
  // answers "which docs are the same document" — the cluster report a
  // production dedup job ships. Oracle: DuckDB recursive CTE computes
  // the same closure (the candidate graph is the tiny verified-pair set,
  // so closure blowup is bounded by cluster size²).
  /** Recursive-closure CTE chain shared by q65/q65b/q117: candidates →
    * Jaccard verify → bidirectional edges → transitive reachability →
    * per-doc min-reachable cluster label (`labeled`). */
  /** candidates → exact-Jaccard verify: the `verified` (doc1 < doc2)
    * near-dup pair CTE chain — shared by the closure family below and
    * by q164's dedup stage. */
  private[queries] val verifiedCtes =
    s"""$sqlShingled,
       |$sqlMinhash,
       |sets AS (
       |  SELECT doc_id, list_distinct(sh) AS shset FROM shingled),
       |verified AS (
       |  SELECT doc1, doc2
       |  FROM cand JOIN sets a ON cand.doc1 = a.doc_id
       |            JOIN sets b ON cand.doc2 = b.doc_id
       |  WHERE CAST(len(list_filter(a.shset, x -> list_contains(b.shset, x))) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.shset, b.shset))) >= 0.5)"""
      .stripMargin

  private val clustersCtes =
    s"""$verifiedCtes,
       |edges AS MATERIALIZED (
       |  SELECT doc1 AS a, doc2 AS b FROM verified
       |  UNION SELECT doc2, doc1 FROM verified),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |    WHERE e.b <> r.a),
       |labeled AS (
       |  SELECT d.doc_id,
       |    least(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster
       |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.a
       |  GROUP BY d.doc_id)""".stripMargin

  private val clustersSql =
    s"""$clustersCtes
       |SELECT doc_id, cluster FROM labeled
       |ORDER BY doc_id""".stripMargin.replaceFirst("^WITH ", "WITH RECURSIVE ")

  private val q65 = QueryDef.of(
    (s, d) => clusterLabels(s, d).orderBy(col("doc_id")),
    clustersSql)

  // ------------------------------------------------------------- q65b
  // Same clusters via alternating large-star / small-star contraction
  // ([[graft.operators.ConnectedComponents.labelsStar]]): O(log n)
  // rounds regardless of graph diameter, vs diameter rounds for q65's
  // min-label propagation. Identical fixpoint → identical oracle; at
  // 100 TB this is the variant to run when clusters can be long chains
  // (boilerplate families, templated spam) rather than tight cliques.
  private val q65b = QueryDef.of(
    (s, d) => {
      val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
      val edges = verifiedPairs(s, d)
        .select(col("doc1").as("src"), col("doc2").as("dst"))
      graft.operators.ConnectedComponents.labelsStar(nodes, edges)._1
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy(col("doc_id"))
    },
    clustersSql)

  // ------------------------------------------------------------ q159
  // Golden-record consolidation (survivorship): the step AFTER dedup
  // clustering — each q65 duplicate cluster collapses to one
  // consolidated record under explicit merge rules: canonical id =
  // smallest member (the q64 keep rule), keeper = the RICHEST member
  // (longest text, ties to smallest id — an argmax, done as the
  // combinable max(struct(len, −id)), the q154 trick, never a window),
  // plus member count, total text mass, and the sorted union of
  // langs/sources (set-union provenance, emitted as joined strings so
  // the oracle hash stays array-free). Only true clusters (≥2 members)
  // ship. Scale shape: the CC labels are the shared q65 machinery; the
  // merge itself is ONE cluster-keyed aggregate with map-side partials
  // — collect_set is bounded by cluster size × small vocab, and the
  // shuffle carries (cluster, lang, source, len), never text.
  private val q159 = QueryDef.of(
    (s, d) => {
      val labels = clusterLabels(s, d)
      val mem = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("len"))
        .join(labels, "doc_id")
      mem.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          min(col("doc_id")).as("canonical_id"),
          max(struct(col("len"), (-col("doc_id")).as("nid"))).as("mx"),
          sum(col("len")).as("total_chars"),
          array_join(sort_array(collect_set(col("lang"))), ",")
            .as("langs"),
          array_join(sort_array(collect_set(col("source"))), ",")
            .as("sources"))
        .filter(col("n_members") >= 2)
        .select(col("cluster"), col("n_members"), col("canonical_id"),
          (-col("mx.nid")).as("keeper_id"), col("total_chars"),
          col("langs"), col("sources"))
        .orderBy(col("cluster"))
    },
    s"""$clustersCtes,
       |mem AS (
       |  SELECT l.cluster, d.doc_id, d.lang, d.source,
       |    CAST(length(d.text) AS BIGINT) AS len
       |  FROM labeled l JOIN documents d USING (doc_id)),
       |pick AS (
       |  SELECT cluster, doc_id AS keeper_id FROM (
       |    SELECT cluster, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY cluster ORDER BY len DESC, doc_id) AS rn
       |    FROM mem) WHERE rn = 1),
       |agg AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       |    MIN(doc_id) AS canonical_id,
       |    CAST(SUM(len) AS BIGINT) AS total_chars,
       |    array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
       |    array_to_string(list_sort(list(DISTINCT source)), ',')
       |      AS sources
       |  FROM mem GROUP BY cluster)
       |SELECT a.cluster, n_members, canonical_id, keeper_id,
       |  total_chars, langs, sources
       |FROM agg a JOIN pick p ON a.cluster = p.cluster
       |WHERE n_members >= 2
       |ORDER BY a.cluster"""
      .stripMargin.replaceFirst("^WITH ", "WITH RECURSIVE "))

  // ------------------------------------------------------------- q80
  // SimHash Hamming near-dup: the OTHER classic near-dup path (Manku et
  // al., WWW'07 — Google's web crawl dedup), complementary to MinHash+LSH
  // (q31/q33): one 60-bit sketch per doc instead of a 16-long signature,
  // Hamming distance instead of Jaccard estimate. Pipeline: 60-bit
  // shingle-feature sketch (native codegen'd [[graft.functions
  // .SimHashWide]]) → band the sketch into 4×15-bit keys → intra-bucket
  // pairs (shared [[bucketPairs]]) → verify hamming ≤ 3 via xor+bit_count.
  // The 4×15 banding is exact, not probabilistic: by pigeonhole any pair
  // within hamming 3 agrees on ≥1 band, so recall over the verify
  // predicate is 1 — the bands only bound the candidate count.
  // Scale shape: sketches are per-row maps; the shuffle carries
  // (band, 15-bit key, id); verification joins the 8-byte sketch, never
  // text. At 100 TB widen to a 64-bit sketch via 4×16-bit tables —
  // one constant in the expression.
  private def simSigs(s: org.apache.spark.sql.SparkSession, d: String) = {
    graft.functions.VectorFunctions.register(s)
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr("simhash_wide(toks)").as("sig"))
  }
  private val sqlSimChain =
    s"""ths AS (
       |  SELECT doc_id, list_transform(list_distinct(sh),
       |    tk -> CAST('0x' || substring(md5(tk), 1, 15) AS BIGINT)) AS hs
       |  FROM shingled),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(COALESCE(list_sum(list_transform(range(0, 60), j ->
       |      CASE WHEN list_sum(list_transform(hs,
       |             h -> CAST((h >> j) & 1 AS INT) * 2 - 1)) > 0
       |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) AS BIGINT)
       |      AS sig
       |  FROM ths),
       |sbanded AS (
       |  SELECT doc_id, b.b AS band, (sig >> (15 * b.b)) & 32767 AS bkey
       |  FROM sigs CROSS JOIN generate_series(0, 3) AS b(b)),
       |scap AS (
       |  SELECT doc_id, band, bkey FROM (
       |    SELECT doc_id, band, bkey, ROW_NUMBER() OVER (
       |      PARTITION BY band, bkey ORDER BY doc_id) AS rn
       |    FROM sbanded) WHERE rn <= $MaxBucket),
       |scand AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM scap x JOIN scap y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)"""
      .stripMargin
  private val sqlSimWide = s"$sqlShingled,\n$sqlSimChain"

  /** 4×15-bit band rows of a (doc_id, sig) SimHash frame — shared by
    * q80's candidate probe and q199's cap audit. */
  private def simBandedOf(sigs: org.apache.spark.sql.DataFrame) =
    sigs.select(col("doc_id"), expr(
      """explode(array_distinct(transform(sequence(0, 3), b ->
        |  struct(b AS band, shiftright(sig, 15 * b) & 32767 AS bkey))))"""
        .stripMargin).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))

  private val q80 = QueryDef.of(
    (s, d) => {
      val sigs = graft.Resources.retain(simSigs(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val bandedSigs = simBandedOf(sigs)
      bucketPairs(bandedSigs)
        .join(sigs.select(col("doc_id").as("doc1"), col("sig").as("sig1")), "doc1")
        .join(sigs.select(col("doc_id").as("doc2"), col("sig").as("sig2")), "doc2")
        .withColumn("hamming",
          expr("cast(bit_count(sig1 ^ sig2) as int)"))
        .filter(col("hamming") <= 3)
        .select(col("doc1"), col("doc2"), col("hamming"))
        .orderBy(col("doc1"), col("doc2"))
    },
    s"""$sqlSimWide
       |SELECT doc1, doc2,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM scand JOIN sigs a ON scand.doc1 = a.doc_id
       |           JOIN sigs b ON scand.doc2 = b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY doc1, doc2""".stripMargin)

  // ------------------------------------------------------------- q112
  // Substring-level duplication stats (the Lee et al. '22 "Deduplicating
  // Training Data Makes Language Models Better" pass, at span
  // granularity): an 8-token span is duplicated when it also occurs in
  // ANOTHER document; per-doc output is the duplicated-span fraction —
  // the boilerplate detector that doc-level dedup (q30/q31) cannot see.
  // Cross-doc test is min(doc_id) <> max(doc_id) per span hash — NO
  // distinct aggregate, just two cheap extrema with map-side partials.
  // Scale shape: the explode emits (16-char hash, doc_id, pos) — spans
  // themselves never shuffle; the span-hash groupBy is the one wide op
  // and the dup-mark set joins back key-to-key. At 100 TB this is the
  // published recipe's distributed form (they used a suffix array on one
  // machine; the shingle-hash join is the cluster equivalent).
  /** The 8-token SPAN INDEX (doc_id, p, h) — the Lee '22 substrate as
    * a shared, pinned artifact per (session, corpus): the published
    * recipe builds its suffix array ONCE and runs every measurement
    * and the removal transform against it; here q112 (stats) and q163
    * (removal) both read the pinned span rows instead of re-running
    * the md5-span explode per query. Bench warms it as a setup
    * artifact and the DuckDB pair gets the same amortization via the
    * span_frame prelude table (equality-checked overrides). */
  private val spanCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.DataFrame]
  private val spanHook = new java.util.concurrent.atomic.AtomicBoolean
  private[queries] def spanFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    if (spanHook.compareAndSet(false, true))
      graft.Resources.onReleaseAll(() => spanCache.clear())
    spanCache.getOrElseUpdate(s"${graft.Resources.sessionKey(s)}:$d",
      graft.Resources.retain(
        Tables.documents(s, d)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(tk) >= 8 THEN
              |  transform(sequence(0, size(tk) - 8),
              |    i -> struct(i AS p,
              |      substring(md5(concat_ws(' ', slice(tk, i + 1, 8))), 1, 16)
              |        AS h))
              |ELSE array() END""".stripMargin)).as("sp"))
          .select(col("doc_id"), col("sp.p").as("p"), col("sp.h").as("h"))
          .localCheckpoint(true)))
  }

  /** Offline build entry point (idempotent per session+corpus). */
  def ensureSpanIndex(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    spanFrame(s, d)
    ()
  }

  private val q112 = QueryDef.of(
    (s, d) => {
      val spans = spanFrame(s, d).select(col("doc_id"), col("h"))
      val dups = spans.groupBy(col("h"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .select(col("h"), lit(1).as("dup"))
      val perDoc = spans.join(dups, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), count(col("dup")).as("n_dup_spans"))
      Tables.documents(s, d).select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(col("n_dup_spans").cast("double") / col("n_spans"),
            lit(0.0d)).as("dup_frac"))
        .orderBy(col("doc_id"))
    },
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(tk) >= 8 THEN
      |      list_transform(range(1, len(tk) - 6),
      |        i -> substring(md5(array_to_string(list_slice(tk, i, i + 7), ' ')), 1, 16))
      |    ELSE [] END) AS h
      |  FROM toks),
      |dups AS (
      |  SELECT h, 1 AS dup FROM spans
      |  GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
      |perdoc AS (
      |  SELECT doc_id, COUNT(*) AS n_spans, COUNT(dup) AS n_dup_spans
      |  FROM spans LEFT JOIN dups USING (h)
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(n_spans, 0) AS n_spans,
      |  COALESCE(n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(CAST(n_dup_spans AS DOUBLE) / n_spans, 0.0) AS dup_frac
      |FROM documents d LEFT JOIN perdoc USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------ q163
  // Substring-level duplicate REMOVAL (the transform q112 only
  // measures — Lee et al. '22's actual dedup step): every 8-token span
  // that occurs more than once ANYWHERE (cross-doc or within-doc)
  // keeps exactly its FIRST occurrence (min (doc_id, pos) — a total
  // order both engines replay); the token positions of every other
  // occurrence are deleted and the cleaned document is the remaining
  // tokens in order. Output per doc: sizes plus an md5 fingerprint of
  // the cleaned token stream (compact + hashable — the full text never
  // leaves the executor).
  //
  // Scale shape: spans shuffle as (16-char hash, doc, pos) — never
  // text; the mark aggregate is ONE span-hash groupBy with map-side
  // partials (count + min(struct)); removal positions explode 8 rows
  // per removed occurrence (∝ duplicated volume, not corpus volume)
  // and anti-join the token rows doc-and-position-keyed; the cleaned
  // reassembly is a per-doc sort_array fold, local after one doc-keyed
  // shuffle. At 100 TB this is q112's published-recipe argument
  // carried to the transform.
  private val q163 = QueryDef.of(
    (s, d) => {
      // toks is referenced by tokRows AND the final size join — pin it
      // (the iterative-chain discipline); spans are the shared index
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
        .localCheckpoint(true)
      // slot retention (one generation — see Resources.retainSlot)
      graft.Resources.retainSlot(
        s"q163:${graft.Resources.sessionKey(s)}:$d", toks)
      val spans = spanFrame(s, d)
      val marks = spans.groupBy(col("h"))
        .agg(count(lit(1)).as("cnt"),
          min(struct(col("doc_id"), col("p"))).as("first"))
        .filter(col("cnt") > 1)
        .select(col("h"), col("first.doc_id").as("fdoc"),
          col("first.p").as("fp"))
      val removedPos = spans.join(marks, "h")
        .filter(!(col("doc_id") === col("fdoc") && col("p") === col("fp")))
        .select(col("doc_id"), explode(expr("sequence(p, p + 7)")).as("pos"))
        .distinct()
      val tokRows = toks.select(col("doc_id"),
        posexplode(col("tk")).as(Seq("pos", "tok")))
      val kept = tokRows
        .join(removedPos, Seq("doc_id", "pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(expr(
            """array_join(transform(
              |  sort_array(collect_list(struct(pos, tok))),
              |  x -> x.tok), ' ')""".stripMargin)).as("kept_fp"))
      toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
            .as("n_removed"),
          coalesce(col("kept_fp"), md5(lit(""))).as("kept_fp"))
        .orderBy(col("doc_id"))
    },
    // first occurrence = lexicographic MIN over (doc_id, p), computed
    // as TWO integer MINs (min doc_id per hash, then min p within that
    // doc) — exactly the struct-MIN total order, valid for ANY document
    // length (the earlier doc_id·2^20 + p arithmetic silently diverged
    // past 2^20 tokens per doc), but ~27× cheaper: DuckDB's struct MIN
    // aggregate is a per-update generic compare that measured 27 s at
    // sf0.1 where this integer form is 1.0 s, bit-identical output
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents),
      |spans AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(tk) >= 8
      |      THEN range(0, len(tk) - 7) ELSE [] END) AS p,
      |    unnest(CASE WHEN len(tk) >= 8 THEN
      |      list_transform(range(1, len(tk) - 6),
      |        i -> substring(md5(array_to_string(
      |          list_slice(tk, i, i + 7), ' ')), 1, 16))
      |      ELSE [] END) AS h
      |  FROM toks),
      |m1 AS MATERIALIZED (
      |  SELECT h, MIN(doc_id) AS fd
      |  FROM spans GROUP BY h HAVING COUNT(*) > 1),
      |marks AS MATERIALIZED (
      |  SELECT s.h, m.fd, MIN(s.p) AS fp
      |  FROM spans s JOIN m1 m ON s.h = m.h AND s.doc_id = m.fd
      |  GROUP BY s.h, m.fd),
      |rem AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, pos FROM (
      |    SELECT s.doc_id, unnest(range(s.p, s.p + 8)) AS pos
      |    FROM spans s JOIN marks m USING (h)
      |    WHERE NOT (s.doc_id = m.fd AND s.p = m.fp))),
      |tokrows AS (
      |  SELECT doc_id, unnest(range(0, len(tk))) AS pos,
      |    unnest(tk) AS tok
      |  FROM toks),
      |kept AS (
      |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    md5(array_to_string(list(t.tok ORDER BY t.pos), ' '))
      |      AS kept_fp
      |  FROM tokrows t LEFT JOIN rem r
      |    ON t.doc_id = r.doc_id AND t.pos = r.pos
      |  WHERE r.doc_id IS NULL
      |  GROUP BY t.doc_id)
      |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(len(tk) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
      |  COALESCE(k.kept_fp, md5('')) AS kept_fp
      |FROM toks t LEFT JOIN kept k USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------ q167
  // Per-document SPAN NOVELTY — the memorization/recency readout next
  // to q112 (which measures duplicated mass) and q163 (which removes
  // it): for each doc, the fraction of its distinct 8-token spans whose
  // FIRST corpus occurrence (min doc_id) is this doc. Low novelty =
  // the doc is mostly restating earlier content (a training-order
  // curriculum and crawl-recrawl diagnostic).
  //
  // Scale shape — deliberately JOIN-FREE on the span domain: the only
  // span-sized shuffle is the groupBy(h) min(doc_id); and n_novel per
  // doc is the KEY INSIGHT that first-occurrence counts need no
  // join-back — group the (h → first doc) frame BY ITS VALUE (each
  // span contributes exactly one first-doc), so the second aggregate
  // is id-sized. The EXPLODED path ships RAW spans (no array_distinct:
  // min(doc_id) ignores duplicates, the h-group collapses them, and —
  // measured at sf0.1 — array_distinct feeding a Generate costs 4 s
  // against 0.6 s raw); per-doc distinctness lives only in the cheap
  // map-side size(array_distinct(…)) branch. Docs with < 8 tokens
  // have no spans and report novelty 1e6 (no evidence of
  // duplication), a documented convention both engines share.
  private val q167 = QueryDef.of(
    (s, d) => {
      val span8 =
        """CASE WHEN size(tk) >= 8 THEN
          |  transform(sequence(0, size(tk) - 8),
          |    i -> substring(md5(concat_ws(' ', slice(tk, i + 1, 8))), 1, 16))
          |ELSE array() END""".stripMargin
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
      val perDoc = toks
        .select(col("doc_id"),
          size(array_distinct(expr(span8))).cast("long").as("n_spans"))
      // first-occurrence leg reads the shared span index (min(doc_id)
      // over raw spans ≡ over distinct spans); the per-doc distinct
      // count keeps its cheap map-side branch
      val novel = spanFrame(s, d)
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(col("n_spans") === 0, lit(1000000L))
            .otherwise(expr("(coalesce(n_novel, 0L) * 1000000) div n_spans"))
            .as("novelty_ppm"))
        .orderBy(col("doc_id"))
    },
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(CASE WHEN len(tk) >= 8 THEN
      |      list_transform(range(1, len(tk) - 6),
      |        i -> substring(md5(array_to_string(
      |          list_slice(tk, i, i + 7), ' ')), 1, 16))
      |      ELSE [] END)) AS h
      |  FROM toks),
      |nd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
      |       FROM sp GROUP BY 1),
      |fd AS (SELECT h, MIN(doc_id) AS doc_id FROM sp GROUP BY 1),
      |nv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
      |       FROM fd GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(COALESCE(nd.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
      |  CAST(CASE WHEN COALESCE(nd.n_spans, 0) = 0 THEN 1000000
      |    ELSE (COALESCE(nv.n_novel, 0) * 1000000) // nd.n_spans END
      |    AS BIGINT) AS novelty_ppm
      |FROM toks t LEFT JOIN nd USING (doc_id) LEFT JOIN nv USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin)

  // ------------------------------------------------------------ q170
  // Dedup THRESHOLD-SENSITIVITY curve — the tuning readout a dedup team
  // runs before committing to a Jaccard cutoff: at each threshold
  // (50/95/98 %), how many verified pairs survive, how many duplicate
  // clusters form, and how many docs sit in them. One shingle-verify
  // pass computes every pair's EXACT (intersection, union) sizes ONCE
  // (localCheckpoint-pinned — three thresholds filter the same frame);
  // thresholds compare in exact integer arithmetic (inter·100 ≥ t·uni,
  // algebraically identical to the double form at t = 50 since
  // inter/uni = 0.5 is IEEE-exact when uni = 2·inter). The t = 50
  // clustering IS the shared cluster-label artifact (memoized q65
  // fixpoint — artifact reuse, not a fourth fixpoint); 95/98 run fresh
  // CC on their SHRINKING edge sets (the fixture's verified pairs sit
  // at Jaccard 0.90–1.0, so these are the cutoffs that separate —
  // measured, not guessed). Output: 3 rows.
  /** Edge-count gate for q170's driver union-find path: below this
    * many verified pairs (~16 MB of collected (long, long) rows) the
    * distributed CC fixpoint is pure job floor; above it the
    * distributed path runs. The count comes from the aggregate the
    * query computes anyway, so the gate adds zero jobs. A system
    * property (a test seam, not a tuning knob) lets ThresholdCurveSpec
    * force the distributed arm on fixture-sized edge sets and pin both
    * paths byte-identical. */
  private def DriverCcPairCap: Long =
    java.lang.Long.parseLong(
      System.getProperty("graft.q170.driverCcCap", "1000000"))
  private val q170 = QueryDef.of(
    (s, d) => {
      // the shared pinned verify artifact (see [[pairStats]]) IS the
      // one-pass (inter, uni) frame this query used to pin privately
      val pj = pairStats(s, d)
        .filter(col("inter") * 100 >= col("uni") * 50)
      // all three thresholds' pair counts in ONE narrow job over the
      // pinned stats (was one count job per threshold)
      val pcRow = pj.agg(
        count(lit(1)).as("n50"),
        sum(when(col("inter") * 100 >= col("uni") * 95, 1L).otherwise(0L))
          .as("n95"),
        sum(when(col("inter") * 100 >= col("uni") * 98, 1L).otherwise(0L))
          .as("n98")).head()
      val nPairsAt = Map(50 -> pcRow.getLong(0),
        95 -> java.lang.Long.valueOf(
          if (pcRow.isNullAt(1)) 0L else pcRow.getLong(1)).longValue(),
        98 -> java.lang.Long.valueOf(
          if (pcRow.isNullAt(2)) 0L else pcRow.getLong(2)).longValue())
      def statsAt(t: Int): org.apache.spark.sql.DataFrame = {
        val edges = pj.filter(col("inter") * 100 >= col("uni") * t)
        // ADAPTIVE small-graph path: the per-threshold pair count is
        // already on the driver (one narrow aggregate above — the gate
        // costs zero extra jobs). When the surviving edge set is tiny,
        // a distributed CC fixpoint is pure job floor (5+ jobs/round
        // over a hundreds-of-rows frame); union-find on the collected
        // edges computes the identical component-min labels in
        // microseconds. Past the cap — the 100 TB shape — the
        // distributed fixpoint below runs unchanged.
        if (t != 50 && nPairsAt(t) <= DriverCcPairCap) {
          val es = edges.select(col("doc1"), col("doc2")).collect()
          driverCcStats(t, nPairsAt(t), es)
        } else distributedStatsAt(t, edges)
      }
      def driverCcStats(t: Int, nPairs: Long,
          es: Array[org.apache.spark.sql.Row])
          : org.apache.spark.sql.DataFrame = {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by MIN root so the label IS the component minimum,
          // exactly ConnectedComponents.labels' fixpoint output
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val sizes = parent.keys.toSeq.groupBy(find).view.mapValues(_.size)
        val nClusters = sizes.count(_._2 >= 2).toLong
        val nDupDocs = sizes.filter(_._2 >= 2).map(_._2.toLong).sum
        import s.implicits._
        Seq((t.toLong, nPairs, nClusters, nDupDocs))
          .toDF("threshold_pct", "n_pairs", "n_clusters", "n_dup_docs")
      }
      def distributedStatsAt(t: Int,
          edges: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val labels =
          if (t == 50)
            clusterLabels(s, d)
              .select(col("doc_id").as("id"), col("cluster").as("component"))
          else {
            // CC over edge ENDPOINTS only, not the whole corpus: every
            // non-endpoint is an isolated node whose size-1 component
            // the n >= 2 filter below drops anyway, so the aggregate is
            // identical — and the fixpoint's per-round frames carry
            // |dup endpoints| rows (hundreds) instead of |corpus|
            // (r10 bench: q170 was the suite's most expensive query,
            // and the two fresh CC runs were the cost)
            val endpoints = edges.select(col("doc1").as("id"))
              .union(edges.select(col("doc2").as("id"))).distinct()
            graft.operators.ConnectedComponents.labels(endpoints,
              edges.select(col("doc1").as("src"), col("doc2").as("dst")))
          }
        val nPairs = nPairsAt(t)
        labels.groupBy(col("component")).agg(count(lit(1)).as("n"))
          .agg(
            coalesce(sum(when(col("n") >= 2, lit(1L))), lit(0L))
              .as("n_clusters"),
            coalesce(sum(when(col("n") >= 2, col("n"))), lit(0L))
              .as("n_dup_docs"))
          .select(lit(t.toLong).as("threshold_pct"), lit(nPairs).as("n_pairs"),
            col("n_clusters"), col("n_dup_docs"))
      }
      Seq(50, 95, 98).map(statsAt).reduce(_.union(_))
        .orderBy(col("threshold_pct"))
    },
    s"""$sqlShingled,
       |$sqlMinhash,
       |sets AS (
       |  SELECT doc_id, list_distinct(sh) AS shset FROM shingled),
       |pairsj AS MATERIALIZED (
       |  SELECT doc1, doc2,
       |    CAST(len(list_filter(a.shset, x -> list_contains(b.shset, x)))
       |      AS BIGINT) AS inter,
       |    CAST(len(list_distinct(list_concat(a.shset, b.shset)))
       |      AS BIGINT) AS uni
       |  FROM cand JOIN sets a ON cand.doc1 = a.doc_id
       |            JOIN sets b ON cand.doc2 = b.doc_id
       |  WHERE len(list_filter(a.shset, x -> list_contains(b.shset, x)))
       |      * 100 >= len(list_distinct(list_concat(a.shset, b.shset))) * 50),
       |e50 AS MATERIALIZED (
       |  SELECT doc1 AS x, doc2 AS y FROM pairsj WHERE inter * 100 >= uni * 50
       |  UNION SELECT doc2, doc1 FROM pairsj WHERE inter * 100 >= uni * 50),
       |e95 AS MATERIALIZED (
       |  SELECT doc1 AS x, doc2 AS y FROM pairsj WHERE inter * 100 >= uni * 95
       |  UNION SELECT doc2, doc1 FROM pairsj WHERE inter * 100 >= uni * 95),
       |e98 AS MATERIALIZED (
       |  SELECT doc1 AS x, doc2 AS y FROM pairsj WHERE inter * 100 >= uni * 98
       |  UNION SELECT doc2, doc1 FROM pairsj WHERE inter * 100 >= uni * 98),
       |r50 AS (
       |  SELECT x, y FROM e50
       |  UNION
       |  SELECT r.x, e.y FROM r50 r JOIN e50 e ON r.y = e.x WHERE e.y <> r.x),
       |r95 AS (
       |  SELECT x, y FROM e95
       |  UNION
       |  SELECT r.x, e.y FROM r95 r JOIN e95 e ON r.y = e.x WHERE e.y <> r.x),
       |r98 AS (
       |  SELECT x, y FROM e98
       |  UNION
       |  SELECT r.x, e.y FROM r98 r JOIN e98 e ON r.y = e.x WHERE e.y <> r.x),
       |s50 AS (
       |  SELECT least(x, MIN(y)) AS cl FROM r50 GROUP BY x),
       |s95 AS (
       |  SELECT least(x, MIN(y)) AS cl FROM r95 GROUP BY x),
       |s98 AS (
       |  SELECT least(x, MIN(y)) AS cl FROM r98 GROUP BY x),
       |c50 AS (SELECT cl, COUNT(*) AS n FROM s50 GROUP BY cl),
       |c95 AS (SELECT cl, COUNT(*) AS n FROM s95 GROUP BY cl),
       |c98 AS (SELECT cl, COUNT(*) AS n FROM s98 GROUP BY cl)
       |SELECT 50 AS threshold_pct,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairsj
       |     WHERE inter * 100 >= uni * 50) AS n_pairs,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c50 WHERE n >= 2)
       |    AS n_clusters,
       |  (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM c50 WHERE n >= 2)
       |    AS n_dup_docs
       |UNION ALL
       |SELECT 95,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairsj
       |     WHERE inter * 100 >= uni * 95),
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c95 WHERE n >= 2),
       |  (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM c95 WHERE n >= 2)
       |UNION ALL
       |SELECT 98,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairsj
       |     WHERE inter * 100 >= uni * 98),
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c98 WHERE n >= 2),
       |  (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM c98 WHERE n >= 2)
       |ORDER BY threshold_pct"""
      .stripMargin.replaceFirst("^WITH ", "WITH RECURSIVE "))

  // ------------------------------------------------------------ q164
  // The CURATION FUNNEL — the composition query: the full
  // quality → near-dup → decontamination cascade a training-data run
  // executes, reported as one monotone funnel (stage, surviving docs,
  // surviving tokens). Each stage reuses the suite's own contracts:
  //
  //   0_corpus    every document
  //   1_quality   20 ≤ tokens ≤ 2000 AND mean token length in
  //               [3.8, 12.0] (exact integers: 38·n ≤ 10·chars ≤ 120·n)
  //   2_dedup     drop docs with a VERIFIED smaller-id near-dup
  //               (q64's keep rule over q33's pair contract — partner
  //               judged on the full corpus: the dedup index is built
  //               before quality filtering, as production does, so a
  //               doc's canonical can itself be quality-rejected)
  //   3_decontam  hold out the eval split (q73's md5 doc-hash rule,
  //               h % 10 ≥ 8) and drop train docs sharing ANY 8-token
  //               span with the eval set (the q112/q163 span hashes —
  //               the GPT-3-style long-n-gram collision rule; 3-shingle
  //               overlap is useless here: the synthetic corpus shares
  //               short shingles universally and the 50 %-of-3-shingles
  //               form emptied the funnel at sf0.1, measured)
  //
  // Scale shape: one corpus scan builds (n, chars, h) per doc
  // (map-only); the dedup stage joins the id-only verified pair set;
  // decontamination is the q73 single-pass shape (explode distinct
  // shingles, mark-join the eval set, ONE aggregate); the funnel
  // itself is four count/sum aggregates over id-sized frames. Nothing
  // document-sized shuffles twice.
  private val q164 = QueryDef.of(
    (s, d) => {
      // PINNED: the tokenize + char-fold + doc-hash projection is the
      // query's expensive per-doc work, and the un-pinned form re-ran
      // it for EVERY consumer — four funnel aggregates, the eval-span
      // explode, and the contamination explode each re-tokenized the
      // corpus (≈6 full passes). One checkpointed pass now feeds all.
      val base = graft.Resources.retain(Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
        .select(col("doc_id"), col("tk"),
          size(col("tk")).cast("long").as("n"),
          expr("aggregate(tk, 0L, (a, t) -> a + length(t))").as("chars"),
          expr("""cast(conv(substring(md5(cast(doc_id as string)), 1, 4),
                |  16, 10) as bigint) % 10""".stripMargin).as("h"))
        .localCheckpoint(true))
      val q1 = col("n") >= 20 && col("n") <= 2000 &&
        col("chars") * 10 >= col("n") * 38 &&
        col("chars") * 10 <= col("n") * 120
      val s1 = base.filter(q1)
      val dupDropped = verifiedPairs(s, d)
        .select(col("doc2").as("doc_id")).distinct()
      val s2 = s1.join(dupDropped, Seq("doc_id"), "left_anti")
      // Span hashes come from the SHARED span index (the q112/q163
      // substrate, warmed once per session) instead of re-running the
      // md5 span chain twice here — the spans of the eval split and of
      // the surviving train docs are id-keyed semi-joins against the
      // pinned (doc_id, h) rows. Identical hashes by construction
      // (spanFrame computes the same expression).
      val sp = spanFrame(s, d).select(col("doc_id"), col("h").as("sp"))
      val evalSpans = sp
        .join(base.filter(col("h") >= 8).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("sp")).distinct()
      val cont = sp
        .join(s2.filter(col("h") < 8).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .join(evalSpans, Seq("sp"), "left_semi")
        .select(col("doc_id")).distinct()
      // ONE conditional aggregate replaces the four per-stage
      // count/sum jobs (same counts, same token sums — each stage is a
      // boolean refinement of the previous, evaluated per row):
      // stage flags ride the pinned base via two id-keyed flag joins.
      val flagged = base
        .join(dupDropped.withColumn("isdup", lit(1)), Seq("doc_id"),
          "left")
        .join(cont.withColumn("iscont", lit(1)), Seq("doc_id"), "left")
        .select(col("n"), q1.as("f1"),
          (q1 && col("isdup").isNull).as("f2"),
          (q1 && col("isdup").isNull && col("h") < 8 &&
            col("iscont").isNull).as("f3"))
      def cnt(f: org.apache.spark.sql.Column) =
        sum(when(f, 1L).otherwise(0L))
      def tok(f: org.apache.spark.sql.Column) =
        coalesce(sum(when(f, col("n"))), lit(0L))
      flagged.agg(
          count(lit(1)).as("d0"), coalesce(sum(col("n")), lit(0L)).as("t0"),
          cnt(col("f1")).as("d1"), tok(col("f1")).as("t1"),
          cnt(col("f2")).as("d2"), tok(col("f2")).as("t2"),
          cnt(col("f3")).as("d3"), tok(col("f3")).as("t3"))
        .select(expr(
          """stack(4, '0_corpus', d0, t0, '1_quality', d1, t1,
            |  '2_dedup', d2, t2, '3_decontam', d3, t3)
            |  AS (stage, n_docs, n_tokens)""".stripMargin))
        .orderBy(col("stage"))
    },
    s"""$verifiedCtes,
       |tkt AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
       |  FROM documents),
       |base AS MATERIALIZED (
       |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
       |    CAST(COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)
       |      AS BIGINT) AS chars,
       |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
       |      AS BIGINT) % 10 AS h
       |  FROM tkt),
       |s1 AS (
       |  SELECT * FROM base
       |  WHERE n BETWEEN 20 AND 2000
       |    AND chars * 10 >= n * 38 AND chars * 10 <= n * 120),
       |dupdrop AS (SELECT DISTINCT doc2 AS doc_id FROM verified),
       |s2 AS MATERIALIZED (
       |  SELECT s1.* FROM s1 LEFT JOIN dupdrop dd USING (doc_id)
       |  WHERE dd.doc_id IS NULL),
       |esh AS (
       |  SELECT DISTINCT unnest(CASE WHEN len(tk) >= 8 THEN
       |    list_transform(range(1, len(tk) - 6),
       |      i -> substring(md5(array_to_string(
       |        list_slice(tk, i, i + 7), ' ')), 1, 16))
       |    ELSE [] END) AS sp
       |  FROM base WHERE h >= 8),
       |tsh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 8 THEN
       |    list_transform(range(1, len(tk) - 6),
       |      i -> substring(md5(array_to_string(
       |        list_slice(tk, i, i + 7), ' ')), 1, 16))
       |    ELSE [] END)) AS sp
       |  FROM s2 WHERE h < 8),
       |cont AS (
       |  SELECT DISTINCT t.doc_id FROM tsh t JOIN esh e USING (sp)),
       |s3 AS (
       |  SELECT s2.* FROM s2 LEFT JOIN cont c USING (doc_id)
       |  WHERE h < 8 AND c.doc_id IS NULL)
       |SELECT '0_corpus' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_tokens FROM base
       |UNION ALL
       |SELECT '1_quality', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM s1
       |UNION ALL
       |SELECT '2_dedup', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM s2
       |UNION ALL
       |SELECT '3_decontam', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM s3
       |ORDER BY stage""".stripMargin)

  // ------------------------------------------------------------- q117
  // Dedup savings report: cluster-size distribution over the transitive
  // near-dup clusters + redundant-doc counts — the report a pipeline
  // owner reads before committing to a dedup pass ("how much does this
  // buy?"). n_redundant = (size−1)·n_clusters is exactly the docs q64's
  // survivorship would drop. Two tiny aggregates over the cluster
  // labels; everything heavy is the shared q65 machinery.
  private val q117 = QueryDef.of(
    (s, d) => {
      clusterLabels(s, d)
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("n_redundant"))
        .orderBy(col("cluster_size"))
    },
    s"""$clustersCtes,
       |cs AS (SELECT cluster, COUNT(*) AS sz FROM labeled GROUP BY cluster)
       |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
       |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
       |  CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_redundant
       |FROM cs GROUP BY sz
       |ORDER BY cluster_size""".stripMargin
      .replaceFirst("^WITH ", "WITH RECURSIVE "))

  // ------------------------------------------------------------ q161
  // Leakage-safe train/val/test split: split assignment BY DEDUP
  // CLUSTER, not by document — the eval-contamination control q73
  // applies at the n-gram level, applied at the SPLIT level. Splitting
  // documents independently leaks near-duplicates across the
  // train/eval boundary (the duplicate of a test doc sits in train and
  // the eval is contaminated); hashing the CLUSTER label instead puts
  // every member of a near-dup family on the same side BY CONSTRUCTION
  // — no post-hoc pair check can fail. Deterministic md5 bucketing
  // (b = first-4-hex-digits mod 10 → 0-7 train, 8 val, 9 test) keeps
  // the assignment stable under re-runs and partitioning (the q55/q78
  // hash-sample discipline).
  //
  // Scale shape: cluster labels are the shared q65 CC machinery; the
  // split is a per-row hash map; the report is ONE split-keyed
  // aggregate whose shuffle carries (split, cluster, len), never text.
  // LeakageSplitSpec proves the no-leakage invariant pair-by-pair
  // against q33's verified near-dup pairs and replays the aggregate.
  private val q161 = QueryDef.of(
    (s, d) => {
      val assigned = clusterLabels(s, d).withColumn("b", expr(
          """cast(conv(substring(md5(cast(cluster as string)), 1, 4),
            |  16, 10) as bigint) % 10""".stripMargin))
        .withColumn("split",
          when(col("b") <= 7, "train")
            .when(col("b") === 8, "val").otherwise("test"))
      assigned
        .join(Tables.documents(s, d).select(col("doc_id"),
          length(col("text")).cast("long").as("len")), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("len")).as("total_chars"))
        .orderBy(col("split"))
    },
    s"""$clustersCtes,
       |sp AS (
       |  SELECT doc_id, cluster,
       |    CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
       |      ELSE 'test' END AS split
       |  FROM (SELECT doc_id, cluster,
       |    CAST('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 4)
       |      AS BIGINT) % 10 AS b FROM labeled))
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       |  CAST(SUM(length(d.text)) AS BIGINT) AS total_chars
       |FROM sp JOIN documents d USING (doc_id)
       |GROUP BY split ORDER BY split""".stripMargin
      .replaceFirst("^WITH ", "WITH RECURSIVE "))

  // ------------------------------------------------------------ q191
  // Split-LEAKAGE audit — the counterfactual q161 exists to prevent,
  // measured: under a NAIVE per-document hash split (the split every
  // pipeline starts with), what fraction of test documents share a
  // near-dup cluster with a train document? Every such document is
  // memorization leaking into the eval; q161 splits BY CLUSTER so its
  // rate is structurally zero, and this audit is the number that
  // justifies paying for it (run it on any externally-supplied split
  // before trusting its eval). One row: train/test sizes, leaked test
  // docs, leak ppm, and how many clusters span the boundary.
  //
  // Scale shape: reads the shared cluster-label artifact (built once
  // per session); the train-cluster set is distinct-cluster-bounded
  // and the leak test is one semi-join against it; all counts are
  // 1-row aggregates cross-joined by broadcast. Oracle replays the
  // closure (shared clustersCtes) + the same md5 split.
  private val q191 = QueryDef.of(
    (s, d) => {
      val sp = clusterLabels(s, d).withColumn("h", expr(
        """cast(conv(substring(md5(cast(doc_id as string)), 1, 8),
          |  16, 10) as bigint) % 10""".stripMargin))
      val train = sp.filter(col("h") < 8)
      val test = sp.filter(col("h") >= 8)
      val trainClusters = train.select(col("cluster")).distinct()
      val leaked = test.join(trainClusters, Seq("cluster"), "left_semi")
      train.agg(count(lit(1)).as("n_train"))
        .crossJoin(broadcast(test.agg(count(lit(1)).as("n_test"))))
        .crossJoin(broadcast(leaked.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_leaked"),
          countDistinct(col("cluster")).as("n_spanning_clusters"))))
        .select(col("n_train"), col("n_test"), col("n_leaked"),
          expr("(n_leaked * 1000000L) div greatest(n_test, 1L)")
            .as("leak_ppm"),
          col("n_spanning_clusters"))
    },
    s"""$clustersCtes,
       |sp AS (
       |  SELECT doc_id, cluster,
       |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |      AS BIGINT) % 10 AS h
       |  FROM labeled),
       |tr AS (SELECT DISTINCT cluster FROM sp WHERE h < 8),
       |lk AS (
       |  SELECT t.doc_id, t.cluster
       |  FROM sp t JOIN tr ON t.cluster = tr.cluster
       |  WHERE t.h >= 8)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sp WHERE h < 8) AS n_train,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sp WHERE h >= 8) AS n_test,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lk) AS n_leaked,
       |  ((SELECT COUNT(*) FROM lk) * 1000000)
       |    // GREATEST((SELECT COUNT(*) FROM sp WHERE h >= 8), 1)
       |    AS leak_ppm,
       |  (SELECT CAST(COUNT(DISTINCT cluster) AS BIGINT) FROM lk)
       |    AS n_spanning_clusters""".stripMargin
      .replaceFirst("^WITH ", "WITH RECURSIVE "))

  // ------------------------------------------------------------ q192
  // Cross-source DUPLICATION-FLOW matrix: verified near-dup pairs
  // grouped by the (unordered) source pair — the "which sources copy
  // from which" readout a curation team reads next to q175's
  // vocabulary overlap (q175 says two sources SPEAK alike; this says
  // they literally share documents — syndication, mirrors, scraped
  // re-posts). Within-source mass (source_a = source_b) is internal
  // redundancy; off-diagonal mass is the cross-source syndication a
  // per-source dedup would MISS — the number that justifies global
  // (not per-source) dedup. Sources are lex-ordered per pair so the
  // matrix is upper-triangular and direction-free (doc-id order says
  // nothing about provenance).
  //
  // Scale shape: the verified-pair frame (LSH-bucketed, ~10⁻⁶ of all
  // pairs) joins the (doc_id, source) projection twice by key, then
  // one (source, source)-keyed aggregate — pair-bounded throughout,
  // never corpus × corpus. Counts are integers; the oracle replays the
  // shared verified-pair CTEs.
  private val q192 = QueryDef.of(
    (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      verifiedPairs(s, d)
        .join(src.select(col("doc_id").as("doc1"),
          col("source").as("s1")), "doc1")
        .join(src.select(col("doc_id").as("doc2"),
          col("source").as("s2")), "doc2")
        .select(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source",
          (col("source_a") =!= col("source_b")).cast("int"))
        .orderBy(col("source_a"), col("source_b"))
    },
    s"""$verifiedCtes,
       |ds AS (SELECT doc_id, source FROM documents),
       |fl AS (
       |  SELECT LEAST(a.source, b.source) AS source_a,
       |    GREATEST(a.source, b.source) AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM verified v
       |  JOIN ds a ON v.doc1 = a.doc_id
       |  JOIN ds b ON v.doc2 = b.doc_id
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_pairs,
       |  CASE WHEN source_a <> source_b THEN 1 ELSE 0 END AS cross_source
       |FROM fl ORDER BY source_a, source_b""".stripMargin)

  // ------------------------------------------------------------ q195
  // Dedup-adjusted EFFECTIVE token yield per source — the "how much
  // data do we actually have" readout (the number RefinedWeb/FineWeb
  // report per pipeline stage): for every source, raw token mass, the
  // mass surviving exact dedup (one keeper per identical text,
  // smallest doc_id, assigned to the KEEPER's source — cross-source
  // exact copies credit whoever published first by id), and the mass
  // surviving near-dup cluster collapse (one keeper per q65 cluster —
  // the cluster label IS its minimum member id, so keepers are the
  // docs with doc_id = cluster, a map-side test on the shared label
  // artifact). effective_ppm = near-dup-surviving tokens / raw tokens.
  // q192 says who copies from whom; this says what each source is
  // WORTH after the copying is removed.
  //
  // Scale shape: one corpus scan builds (doc_id, source, n_tok,
  // md5(text)); the exact-keeper frame is an md5-keyed min aggregate
  // (16-byte shuffle keys, the q30 discipline); the near-keeper test
  // reads the per-session cluster-label artifact. Both keeper joins
  // are doc_id-keyed; the final aggregate is sources-bounded. No pair
  // enumeration anywhere — the expensive transitive closure is the
  // shared memoized artifact, built once per session.
  private val q195 = QueryDef.of(
    (s, d) => {
      val base = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        expr("cast(size(filter(split(text, ' '), t -> t <> '')) as bigint)")
          .as("n_tok"),
        md5(col("text")).as("th"))
      val exactKeep = base.groupBy(col("th"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(1L).as("is_exact"))
      val nearKeep = clusterLabels(s, d)
        .filter(col("doc_id") === col("cluster"))
        .select(col("doc_id"), lit(1L).as("is_near"))
      base
        .join(exactKeep, Seq("doc_id"), "left")
        .join(nearKeep, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("raw_tokens"),
          sum(coalesce(col("is_exact"), lit(0L))).as("docs_exact"),
          sum(when(col("is_exact").isNotNull, col("n_tok"))
            .otherwise(0L)).as("tokens_exact"),
          sum(coalesce(col("is_near"), lit(0L))).as("docs_near"),
          sum(when(col("is_near").isNotNull, col("n_tok"))
            .otherwise(0L)).as("tokens_near"))
        .withColumn("effective_ppm",
          expr("(tokens_near * 1000000L) div greatest(raw_tokens, 1L)"))
        .orderBy(col("source"))
    },
    s"""$clustersCtes,
       |base AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS BIGINT) AS n_tok,
       |    md5(text) AS th
       |  FROM documents),
       |ek AS (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY th),
       |nk AS (SELECT doc_id FROM labeled WHERE doc_id = cluster),
       |fl AS (
       |  SELECT b.source, b.n_tok,
       |    CASE WHEN ek.doc_id IS NULL THEN 0 ELSE 1 END AS ise,
       |    CASE WHEN nk.doc_id IS NULL THEN 0 ELSE 1 END AS isn
       |  FROM base b
       |  LEFT JOIN ek ON b.doc_id = ek.doc_id
       |  LEFT JOIN nk ON b.doc_id = nk.doc_id),
       |g AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
       |    CAST(SUM(ise) AS BIGINT) AS docs_exact,
       |    CAST(SUM(ise * n_tok) AS BIGINT) AS tokens_exact,
       |    CAST(SUM(isn) AS BIGINT) AS docs_near,
       |    CAST(SUM(isn * n_tok) AS BIGINT) AS tokens_near
       |  FROM fl GROUP BY source)
       |SELECT source, n_docs, raw_tokens, docs_exact, tokens_exact,
       |  docs_near, tokens_near,
       |  (tokens_near * 1000000) // GREATEST(raw_tokens, 1)
       |    AS effective_ppm
       |FROM g ORDER BY source""".stripMargin
      .replaceFirst("^WITH ", "WITH RECURSIVE "))

  // ------------------------------------------------------------ q196
  // LSH band-tuning audit — the S-curve, REALIZED: the (bands ×
  // rows-per-band) split of the 16-hash MinHash signature is THE
  // operating knob of every LSH dedup deployment (collision
  // probability at Jaccard j is 1−(1−j^r)^b), and this query reports,
  // per config over the same signatures: candidate-pair volume, how
  // many candidates the signatures themselves estimate as true dups
  // (≥ 8/16 matching hashes ⟺ estimated Jaccard ≥ 0.5), the realized
  // precision, and the closed-form theoretical catch rate at j = 0.5 —
  // theory next to practice, the table a curation team reads before
  // fixing (b, r) for a 100 TB run. On this corpus the four configs
  // span ~1k → ~100k candidates: r = 1 is the textbook recall-at-any-
  // cost blowup, r = 8 the high-precision starve.
  //
  // Scale shape: ONE corpus scan builds the pinned signature frame
  // (16 longs/doc); each config re-bands THE SIGNATURES (16-long rows,
  // never documents) and runs the shared capped bucketPairs; the
  // match-count verify joins signatures by doc id — sketch-bounded
  // end to end, documents are never rescanned or shuffled. The
  // estimated-Jaccard verify is the production screen; the exact-
  // shingle verify stays where it belongs (q33, on the chosen config).
  private val BandConfigs = Seq((2, 8), (4, 4), (8, 2), (16, 1))
  private def theoryPpm(b: Int, r: Int): Long =
    ((1L << 16) - math.round(math.pow((1 << r) - 1, b))) * 1000000L / 65536L
  private val q196 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      graft.functions.VectorFunctions.register(s)
      // the shared pinned signature artifact — built once per
      // (session, corpus), re-banded per config below
      val sigs = sigFrame(s, d)
      // ONE banding pass for all four configs: band ids carry a
      // config offset (cfg b's bands live at [100·b, 100·b + b)), so a
      // single (band, bkey) group-and-pair shuffle serves every config
      // — measured vs the four-separate-bucketPairs form, this halves
      // the query's shuffle count; candidate SETS are identical (keys
      // never collide across configs)
      val bandStructs = BandConfigs.map { case (b, r) =>
        s"""transform(sequence(0, ${b - 1}), bd -> struct(
           |  ${100 * b} + bd AS band,
           |  concat_ws(',', slice(mh, bd * $r + 1, $r)) AS bkey))"""
          .stripMargin
      }.mkString("concat(", ", ", ")")
      val bandedAll = sigs.select(col("doc_id"),
          expr(s"explode(array_distinct($bandStructs))").as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.bkey").as("bkey"))
      val cfgOf = BandConfigs.map { case (b, r) =>
        s"WHEN band div 100 = $b THEN struct(${b}L AS bands, ${r}L AS rows_per_band)"
      }.mkString("CASE ", " ", " END")
      val cand = bucketPairsBy(bandedAll, expr(cfgOf))
        .select(col("cfg.bands").as("bands"),
          col("cfg.rows_per_band").as("rows_per_band"),
          col("doc1"), col("doc2"))
      val est = cand
        .join(sigs.select(col("doc_id").as("doc1"), col("mh").as("mh1")),
          "doc1")
        .join(sigs.select(col("doc_id").as("doc2"), col("mh").as("mh2")),
          "doc2")
        .withColumn("matches", expr(
          "cast(size(filter(zip_with(mh1, mh2, (x, y) -> x = y), v -> v)) as bigint)"))
        .groupBy(col("bands"), col("rows_per_band"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("matches") >= 8L, 1L).otherwise(0L))
            .as("n_est_dup"))
      val spine = BandConfigs
        .map { case (b, r) => (b.toLong, r.toLong, theoryPpm(b, r)) }
        .toDF("bands", "rows_per_band", "theory_at_j50_ppm")
      spine.join(est, Seq("bands", "rows_per_band"), "left")
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_est_dup"), lit(0L)).as("n_est_dup"),
          expr("""(coalesce(n_est_dup, 0L) * 1000000L)
                 |  div greatest(coalesce(n_candidates, 0L), 1L)"""
            .stripMargin).as("precision_ppm"),
          col("theory_at_j50_ppm"))
        .orderBy(col("bands"))
    },
    {
      val perConfig = BandConfigs.map { case (b, r) =>
        val sel = (0 until b).map { bd =>
          val ks = (1 to r).map(j => s"m${bd * r + j}").mkString(", ")
          s"  SELECT doc_id, $bd AS band, concat_ws(',', $ks) AS bkey FROM mhr"
        }.mkString("\n  UNION ALL\n")
        s"""banded_$b AS (
           |$sel),
           |bcap_$b AS (
           |  SELECT doc_id, band, bkey FROM (
           |    SELECT doc_id, band, bkey, ROW_NUMBER() OVER (
           |      PARTITION BY band, bkey ORDER BY doc_id) AS rn
           |    FROM banded_$b) WHERE rn <= $MaxBucket),
           |cand_$b AS (
           |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2,
           |    $b AS bands, $r AS rows_per_band
           |  FROM bcap_$b x JOIN bcap_$b y
           |    ON x.band = y.band AND x.bkey = y.bkey
           |      AND x.doc_id < y.doc_id)""".stripMargin
      }.mkString(",\n")
      val union = BandConfigs
        .map { case (b, _) => s"SELECT * FROM cand_$b" }
        .mkString(" UNION ALL ")
      val matchSum = (1 to 16)
        .map(i => s"(CASE WHEN a.m$i = bb.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val spine = BandConfigs
        .map { case (b, r) => s"($b, $r, ${theoryPpm(b, r)})" }
        .mkString(", ")
      s"""$sqlShingled,
         |$sqlMinhash,
         |$perConfig,
         |allc AS ($union),
         |est AS (
         |  SELECT bands, rows_per_band, $matchSum AS matches
         |  FROM allc JOIN mhr a ON allc.doc1 = a.doc_id
         |            JOIN mhr bb ON allc.doc2 = bb.doc_id),
         |g AS (
         |  SELECT bands, rows_per_band,
         |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |    CAST(SUM(CASE WHEN matches >= 8 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_est_dup
         |  FROM est GROUP BY 1, 2)
         |SELECT CAST(sp.bands AS BIGINT) AS bands,
         |  CAST(sp.rows_per_band AS BIGINT) AS rows_per_band,
         |  COALESCE(n_candidates, 0) AS n_candidates,
         |  COALESCE(n_est_dup, 0) AS n_est_dup,
         |  (COALESCE(n_est_dup, 0) * 1000000)
         |    // GREATEST(COALESCE(n_candidates, 0), 1) AS precision_ppm,
         |  CAST(sp.theory_at_j50_ppm AS BIGINT) AS theory_at_j50_ppm
         |FROM (VALUES $spine)
         |  sp(bands, rows_per_band, theory_at_j50_ppm)
         |LEFT JOIN g ON sp.bands = g.bands
         |  AND sp.rows_per_band = g.rows_per_band
         |ORDER BY sp.bands""".stripMargin
    })

  // ------------------------------------------------------------- q120
  // INCREMENTAL near-dup: an incoming batch (doc_id ≡ 7 mod 10 plays
  // the newly crawled slice) checked against the EXISTING corpus — the
  // ingestion-time dedup path. Unlike q31's corpus-wide bucket pass,
  // candidates here come from joining the batch's banded signatures
  // against the standing band index key-to-key, so the cost is
  // ∝ batch size, not corpus size — new data never triggers a corpus
  // recompute (the standing index is the persisted artifact a stream
  // appends to). Verify = exact Jaccard ≥ 0.5, same contract as q33.
  private val q120 = QueryDef.of(
    (s, d) => {
      val all = banded(s, d)
      val newSide = all.filter(col("doc_id") % 10 === 7)
        .withColumnsRenamed(Map("doc_id" -> "new_doc"))
      val oldSide = all.filter(col("doc_id") % 10 =!= 7)
        .withColumnsRenamed(Map("doc_id" -> "old_doc"))
      val cand = newSide.join(oldSide, Seq("band", "bkey"))
        .select(col("new_doc"), col("old_doc")).distinct()
      val sets = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("shset", expr(s"array_distinct($shinglesExpr)"))
        .select(col("doc_id"), col("shset"))
      cand
        .join(sets.withColumnsRenamed(
          Map("doc_id" -> "new_doc", "shset" -> "sa")), "new_doc")
        .join(sets.withColumnsRenamed(
          Map("doc_id" -> "old_doc", "shset" -> "sb")), "old_doc")
        .withColumn("jaccard",
          size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))))
        .filter(col("jaccard") >= 0.5)
        .select(col("new_doc"), col("old_doc"), col("jaccard"))
        .orderBy(col("new_doc"), col("old_doc"))
    },
    s"""$sqlShingled,
       |$sqlMinhash,
       |inc AS (
       |  SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS old_doc
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.doc_id % 10 = 7 AND y.doc_id % 10 <> 7),
       |sets AS (SELECT doc_id, list_distinct(sh) AS shset FROM shingled)
       |SELECT new_doc, old_doc,
       |  CAST(len(list_filter(a.shset, x -> list_contains(b.shset, x)))
       |    AS DOUBLE)
       |    / len(list_distinct(list_concat(a.shset, b.shset))) AS jaccard
       |FROM inc JOIN sets a ON inc.new_doc = a.doc_id
       |         JOIN sets b ON inc.old_doc = b.doc_id
       |WHERE CAST(len(list_filter(a.shset, x -> list_contains(b.shset, x)))
       |    AS DOUBLE)
       |    / len(list_distinct(list_concat(a.shset, b.shset))) >= 0.5
       |ORDER BY new_doc, old_doc""".stripMargin)

  // ------------------------------------------------------------- q132
  // EXACT set-similarity self-join by prefix filtering (the
  // AllPairs/PPJoin family) — the LOSSLESS complement to q31's LSH:
  // every pair with shingle-Jaccard ≥ 0.5 is found, zero false
  // negatives (ExactJaccardJoinSpec proves equality against the full
  // shared-token join on the fixture). Sets live in a 40-bit md5
  // hash domain (both engines hash identically, so collisions — ~1 per
  // 10^6 shingles — merge the same pair of shingles on both sides).
  //
  // The filter: order every doc's shingles rarest-first by global
  // (df, hash) — a TOTAL order both engines replay — and index only the
  // first ⌊s/2⌋+1 ("prefix"); two sets with Jaccard ≥ τ=0.5 MUST share
  // a prefix element (if they disagreed on every prefix slot the
  // overlap can't reach the ⌈τ/(1+τ)·(sa+sb)⌉ bound), so the candidate
  // join keys on prefix hashes only, plus the τ·sa ≤ sb ≤ sa/τ length
  // filter. At 100 TB: df is one count shuffle, the per-doc sort is
  // within-group (sort_array, no window), candidates shuffle 8-byte
  // hashes, and verification fetches sets by id for candidates only.
  //
  // POSITIONAL filter (the PPJoin refinement, still lossless): each
  // prefix element carries its 1-based position p in the doc's ordered
  // set. Because the (df, h) order is GLOBAL, two docs rank any shared
  // element identically, so at their FIRST shared prefix element no
  // shared element precedes it in either set and
  //   overlap ≤ 1 + min(s1 − p1, s2 − p2).
  // J ≥ 0.5 needs 3·overlap ≥ s1 + s2; matches whose bound can't reach
  // that are dropped BEFORE the candidate dedup. The bound shrinks as
  // positions grow, so if the first shared element fails every later
  // one does too — filtering all matches keeps exactly the pairs whose
  // first shared prefix element passes (no false negatives; survivors
  // are still exactness-checked in verification). This typically cuts
  // candidate/verification volume 2–5× at τ=0.5 prefix lengths.
  // Worst-case candidate volume is inherent to EXACTNESS (a corpus
  // whose rarest shingles are still shared by everyone) — that corpus
  // belongs on q31's capped-bucket LSH instead; this join is the
  // ground-truth/recall-eval tool.
  private val hash40 =
    "cast(conv(substring(md5(s), 1, 10), 16, 10) as bigint)"
  private val q132 = QueryDef.of(
    (s, d) => {
      // shared per-(session, corpus) artifact — one shingle ordering
      // serves the whole exact-join family (q150 consumes the same)
      val (shing, ordered) = orderedShingles(s, d)
      val pfx = ordered.select(col("doc_id"), col("sz"),
        posexplode(expr("slice(osh, 1, sz div 2 + 1)"))
          .as(Seq("p0", "h")))
        .select(col("doc_id"), col("sz"), (col("p0") + 1).as("p"),
          col("h"))
      val cand = pfx.select(col("doc_id").as("d1"), col("sz").as("s1"),
          col("p").as("p1"), col("h"))
        .join(pfx.select(col("doc_id").as("d2"), col("sz").as("s2"),
          col("p").as("p2"), col("h")),
          Seq("h"))
        .filter(col("d1") < col("d2") &&
          col("s1") * 2 >= col("s2") && col("s2") * 2 >= col("s1") &&
          (lit(1) + least(col("s1") - col("p1"), col("s2") - col("p2")))
            * 3 >= col("s1") + col("s2"))
        .select(col("d1"), col("d2")).distinct()
      cand
        .join(shing.withColumnsRenamed(
          Map("doc_id" -> "d1", "sh" -> "sa")), "d1")
        .join(shing.withColumnsRenamed(
          Map("doc_id" -> "d2", "sh" -> "sb")), "d2")
        .withColumn("inter",
          size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("uni",
          (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
        .filter(col("inter") * 2 >= col("uni"))
        .select(col("d1").as("doc1"), col("d2").as("doc2"),
          col("inter"), col("uni"))
        .orderBy(col("doc1"), col("doc2"))
    },
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shing AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
       |    s -> CAST('0x' || substring(md5(s), 1, 10) AS BIGINT))) AS sh
       |  FROM toks WHERE len(toks) >= 3),
       |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM shing),
       |df AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
       |ordered AS (
       |  SELECT e.doc_id, list(e.h ORDER BY d.df, e.h) AS osh
       |  FROM ex e JOIN df d ON e.h = d.h GROUP BY e.doc_id),
       |pfx AS (
       |  SELECT doc_id, len(osh) AS sz,
       |    unnest(list_slice(osh, 1, len(osh) // 2 + 1)) AS h
       |  FROM ordered),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc_id < b.doc_id
       |   AND 2 * a.sz >= b.sz AND 2 * b.sz >= a.sz),
       |inter AS (
       |  SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN ex a ON a.doc_id = c.d1
       |  JOIN ex b ON b.doc_id = c.d2 AND b.h = a.h
       |  GROUP BY c.d1, c.d2),
       |lens AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS l FROM shing)
       |SELECT i.d1 AS doc1, i.d2 AS doc2, i.inter,
       |  l1.l + l2.l - i.inter AS uni
       |FROM inter i JOIN lens l1 ON i.d1 = l1.doc_id
       |             JOIN lens l2 ON i.d2 = l2.doc_id
       |WHERE 2 * i.inter >= l1.l + l2.l - i.inter
       |ORDER BY doc1, doc2""".stripMargin)

  // ------------------------------------------------------------ q150
  // Exact CONTAINMENT join (quote / subsumption detection): every
  // directed pair (A, B) where ≥ 80 % of A's distinct shingles also
  // appear in B — the "document A is substantially quoted by /
  // subsumed in document B" primitive. Jaccard (q132) misses these:
  // a short doc fully embedded in a long one has tiny Jaccard but
  // containment 1.0, and containment is ASYMMETRIC, so the pair is
  // directed and both directions can hold (exact duplicates).
  //
  // The prefix filter adapts losslessly to containment: with the
  // same GLOBAL rarest-first (df, hash) order as q132, C(A→B) ≥ 4/5
  // forces inter ≥ ⌈4·s1/5⌉, so A's earliest shared element sits at
  // position ≤ s1 − ⌈4·s1/5⌉ + 1 — index only that prefix of A. The
  // B side has no τ-derived prefix (the bound constrains A's set
  // only), so A-prefixes probe the FULL posting index of B — the
  // standard set-containment-join asymmetry — with the length filter
  // 5·s2 ≥ 4·s1 (B must be able to absorb the required overlap) and
  // q132's positional bound, which transfers verbatim: at the first
  // shared element inter ≤ 1 + min(s1−p1, s2−p2), and a true pair's
  // bound always clears 4·s1/5 (bound ≥ inter ≥ ⌈4·s1/5⌉). Candidates
  // shuffle 8-byte hashes; verification fetches sets by id for
  // survivors only. Worst-case volume is inherent to exactness (q132
  // argument); degenerate corpora belong on the banded sketches.
  private val q150 = QueryDef.of(
    (s, d) => {
      // shared per-(session, corpus) artifact — one shingle ordering
      // serves the whole exact-join family (q132 builds the same)
      val (shing, ordered) = orderedShingles(s, d)
      val pfx = ordered.select(col("doc_id"), col("sz"),
        posexplode(expr("slice(osh, 1, sz - (4 * sz + 4) div 5 + 1)"))
          .as(Seq("p0", "h")))
        .select(col("doc_id").as("d1"), col("sz").as("s1"),
          (col("p0") + 1).as("p1"), col("h"))
      val full = ordered.select(col("doc_id"), col("sz"),
        posexplode(col("osh")).as(Seq("p0", "h")))
        .select(col("doc_id").as("d2"), col("sz").as("s2"),
          (col("p0") + 1).as("p2"), col("h"))
      val cand = pfx.join(full, Seq("h"))
        .filter(col("d1") =!= col("d2") &&
          lit(5) * col("s2") >= lit(4) * col("s1") &&
          lit(5) * (lit(1) +
            least(col("s1") - col("p1"), col("s2") - col("p2"))) >=
            lit(4) * col("s1"))
        .select(col("d1"), col("d2")).distinct()
      cand
        .join(shing.withColumnsRenamed(
          Map("doc_id" -> "d1", "sh" -> "sa")), "d1")
        .join(shing.withColumnsRenamed(
          Map("doc_id" -> "d2", "sh" -> "sb")), "d2")
        .withColumn("inter",
          size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("s1", size(col("sa")).cast("long"))
        .filter(col("inter") * 5 >= col("s1") * 4)
        .select(col("d1").as("contained"), col("d2").as("container"),
          col("inter"), col("s1").as("sz"),
          expr("(inter * 1000000) div s1").as("containment_micro"))
        .orderBy(col("contained"), col("container"))
    },
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shing AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(list_slice(toks, i, i + 2), ' ')),
       |    s -> CAST('0x' || substring(md5(s), 1, 10) AS BIGINT))) AS sh
       |  FROM toks WHERE len(toks) >= 3),
       |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM shing),
       |df AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
       |ordered AS (
       |  SELECT e.doc_id, list(e.h ORDER BY d.df, e.h) AS osh
       |  FROM ex e JOIN df d ON e.h = d.h GROUP BY e.doc_id),
       |pfx AS (
       |  SELECT doc_id AS d1, len(osh) AS s1,
       |    unnest(list_slice(osh, 1,
       |      len(osh) - (4 * len(osh) + 4) // 5 + 1)) AS h
       |  FROM ordered),
       |fullx AS (
       |  SELECT doc_id AS d2, len(osh) AS s2, unnest(osh) AS h
       |  FROM ordered),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT d1, d2
       |  FROM pfx a JOIN fullx b USING (h)
       |  WHERE d1 <> d2 AND 5 * s2 >= 4 * s1),
       |inter AS (
       |  SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN ex a ON a.doc_id = c.d1
       |  JOIN ex b ON b.doc_id = c.d2 AND b.h = a.h
       |  GROUP BY c.d1, c.d2),
       |lens AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS l FROM shing)
       |SELECT i.d1 AS contained, i.d2 AS container, i.inter,
       |  l1.l AS sz, (i.inter * 1000000) // l1.l AS containment_micro
       |FROM inter i JOIN lens l1 ON i.d1 = l1.doc_id
       |WHERE 5 * i.inter >= 4 * l1.l
       |ORDER BY contained, container""".stripMargin)

  // ------------------------------------------------------------ q133
  // Sentence-level exact dedup (the C4 pipeline's "discard any repeated
  // unit, keep the first occurrence" step, at sentence granularity):
  // split on '. ', normalize (lower+trim), keep only the globally FIRST
  // occurrence of each normalized sentence — first by (doc_id, pos),
  // a total order — and reassemble each document from its kept
  // sentences in original order.
  //
  // Scale shape: first-occurrence selection is a `min(struct(doc_id,
  // pos))` hash aggregate keyed on the normalized sentence — duplicates
  // collapse in the map-side partial, so the shuffle carries one row
  // per DISTINCT sentence (a window row_number would shuffle+sort every
  // occurrence instead). The kept-join then moves only matching rows,
  // and reassembly is a per-doc sort_array fold, never a global sort.
  private val q133 = QueryDef.of(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sent = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), "\\. ")).as(Seq("p", "sentence")))
        .filter(trim(col("sentence")) =!= "")
        .select(col("doc_id"), (col("p") + 1).as("pos"), col("sentence"),
          lower(trim(col("sentence"))).as("norm"))
      val firsts = sent.groupBy(col("norm"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
        .select(col("norm").as("fnorm"), col("f.doc_id").as("fdoc"),
          col("f.pos").as("fpos"))
      val kept = sent.join(firsts,
        col("norm") === col("fnorm") && col("doc_id") === col("fdoc") &&
          col("pos") === col("fpos"))
      val keptAgg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(expr(
            "transform(sort_array(collect_list(struct(pos, sentence)))," +
              " x -> x.sentence)"), ". ").as("text_kept"))
      val counts = sent.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sent"))
      docs.select(col("doc_id"))
        .join(counts, Seq("doc_id"), "left")
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_sent"), lit(0L)).as("n_sent"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("text_kept"), lit("")).as("text_kept"))
        .orderBy(col("doc_id"))
    },
    """WITH arrs AS (
      |  SELECT doc_id, string_split(text, '. ') AS arr FROM documents),
      |raw AS (
      |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS pos,
      |    unnest(arr) AS sentence
      |  FROM arrs),
      |sent AS (
      |  SELECT doc_id, pos, sentence, lower(trim(sentence)) AS norm
      |  FROM raw WHERE trim(sentence) <> ''),
      |fl AS (
      |  SELECT doc_id, pos, sentence,
      |    ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
      |  FROM sent),
      |keptagg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    string_agg(sentence, '. ' ORDER BY pos) AS text_kept
      |  FROM fl WHERE rn = 1 GROUP BY doc_id),
      |counts AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sent
      |  FROM sent GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(c.n_sent, 0) AS BIGINT) AS n_sent,
      |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
      |  COALESCE(k.text_kept, '') AS text_kept
      |FROM documents d
      |LEFT JOIN counts c ON d.doc_id = c.doc_id
      |LEFT JOIN keptagg k ON d.doc_id = k.doc_id
      |ORDER BY d.doc_id""".stripMargin)

  // ------------------------------------------------------------ q135
  // Clustering-agreement contingency (Rand-index pair counts) between
  // two dedup keyings of the same corpus: A = exact content clusters
  // (md5 of text, q30's key) and B = winnowing-fingerprint clusters
  // (q53's min-shingle-hash; fingerprint-less short docs become
  // singletons so they can never be spuriously merged). Pure
  // pair-counting — every statistic is an integer (sum of C(n,2) over
  // cluster sizes / contingency cells), so the Rand index in micro
  // units replays exactly. This is the GLOBAL complement to q116's
  // per-pair agreement flags: one row that says how interchangeable two
  // dedup methods are across the whole corpus.
  //
  // Scale shape: three hash aggregations over (key) / (keyA, keyB) with
  // map-side partials, then single-row arithmetic — no joins between
  // per-doc frames, no pair materialization (the C(n,2) identity counts
  // pairs without enumerating them).
  private val q135 = QueryDef.of(
    (s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), md5(col("text")).as("ca"),
          coalesce(
            expr(s"array_min(transform($shinglesExpr, s -> md5(s)))"),
            concat(lit("solo_"), col("doc_id"))).as("cb"))
      // r16 fusion (§1.2/§2.4): n/pa/pb/pboth each re-evaluated `base`
      // — four scans of documents, four runs of the md5 + shingle
      // chain (12.6 task-seconds, the corpus-sized cost here). All
      // four statistics derive from the CONTINGENCY CELLS (ca, cb, n):
      // marginal cluster sizes are row sums / column sums of the
      // cells, n_docs is their grand total, and pairs_both reads the
      // cells directly — same integers, one corpus pass. The three
      // downstream aggregates all hash-partition the SAME cells
      // subplan, so the exchange is planned once and reused; the
      // cells frame is cluster-bounded (≤ one row per (exact, fp)
      // cluster pair), never corpus-sized.
      val cells = base.groupBy("ca", "cb").agg(count(lit(1)).as("n"))
      val pairsOf = (g: org.apache.spark.sql.DataFrame) =>
        g.agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).as("p"))
      val n = cells.agg(coalesce(sum(col("n")), lit(0L)).as("n_docs"))
      val pa = pairsOf(cells.groupBy("ca").agg(sum(col("n")).as("n")))
        .withColumnRenamed("p", "pairs_exact")
      val pb = pairsOf(cells.groupBy("cb").agg(sum(col("n")).as("n")))
        .withColumnRenamed("p", "pairs_fp")
      val pboth = pairsOf(cells)
        .withColumnRenamed("p", "pairs_both")
      n.crossJoin(pa).crossJoin(pb).crossJoin(pboth)
        .select(col("n_docs"), col("pairs_exact"), col("pairs_fp"),
          col("pairs_both"),
          expr("(n_docs * (n_docs - 1)) div 2").as("pairs_total"),
          expr("((((n_docs * (n_docs - 1)) div 2) - pairs_exact" +
            " - pairs_fp + 2 * pairs_both) * 1000000L)" +
            " div ((n_docs * (n_docs - 1)) div 2)").as("rand_micro"))
    },
    """WITH base AS (
      |  SELECT doc_id, md5(text) AS ca,
      |    COALESCE(
      |      list_min(list_transform(
      |        list_transform(range(1, len(string_split(text, ' ')) - 1),
      |          i -> array_to_string(
      |            list_slice(string_split(text, ' '), i, i + 2), ' ')),
      |        s -> md5(s))),
      |      'solo_' || doc_id) AS cb
      |  FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM base),
      |pa AS (SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT)
      |  AS pairs_exact
      |  FROM (SELECT COUNT(*) AS n FROM base GROUP BY ca)),
      |pb AS (SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT)
      |  AS pairs_fp
      |  FROM (SELECT COUNT(*) AS n FROM base GROUP BY cb)),
      |pc AS (SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT)
      |  AS pairs_both
      |  FROM (SELECT COUNT(*) AS n FROM base GROUP BY ca, cb))
      |SELECT n_docs, pairs_exact, pairs_fp, pairs_both,
      |  CAST((n_docs * (n_docs - 1)) // 2 AS BIGINT) AS pairs_total,
      |  CAST((((n_docs * (n_docs - 1)) // 2) - pairs_exact - pairs_fp
      |    + 2 * pairs_both) * 1000000
      |    // ((n_docs * (n_docs - 1)) // 2) AS BIGINT) AS rand_micro
      |FROM n, pa, pb, pc""".stripMargin)

  // ------------------------------------------------------------ q172
  // CONTENT-DEFINED CHUNKING dedup (the rsync/LBFS/storage-dedup
  // primitive, applied to training text): chunk boundaries are placed
  // AFTER any token whose hash ≡ 0 (mod 8) — a property of the token
  // itself, so an insertion or deletion elsewhere in the document
  // shifts NO other chunk boundary (the shift-resistance fixed-stride
  // q67 chunking lacks, and the reason CDC is the storage-dedup
  // standard). Chunks hash to 16-char md5 prefixes; a chunk INSTANCE is
  // duplicated when its hash occurs in ≥ 2 distinct documents. Per doc:
  // chunk count, duplicated-instance count, and the duplicated share in
  // ppm — the "how much of this doc is boilerplate" readout at
  // sub-document granularity, complementary to q112's fixed-length
  // spans (CDC chunks align to content, so a shared paragraph dedups
  // even when its surrounding offsets differ).
  //
  // Scale shape: chunking is PURE MAP-SIDE (boundary positions via one
  // filter over the token index range, chunk slices via zip_with —
  // O(n) per doc, no window, no per-token shuffle); the only shuffles
  // carry (doc_id, 16-char hash) pairs — one chunk-keyed count
  // aggregate and one hash-keyed semi-join back, both ∝ chunk count
  // (~n/8). The doc-sized array stays inside one task (the q50-family
  // per-row discipline).
  private val q172 = QueryDef.of(
    (s, d) => {
      // the per-doc chunk-hash array is materialized ONCE behind a
      // checkpoint barrier: exploding the md5-heavy chain directly
      // re-evaluates it per EMITTED row (the q167 explode lesson —
      // measured 9.6 s vs 1.5 s at sf0.1), and the exploded frame
      // feeds two consumers (dup detection + per-doc counts) that
      // would otherwise recompute the chunking
      val withCh = graft.Resources.retain(Tables.documents(s, d)
        .withColumn("tk", expr("filter(split(text, ' '), t -> t <> '')"))
        // boundary after position i (1-based, never the last token —
        // the tail chunk always closes at size(tk)); sequence() is
        // DESCENDING when its upper bound < lower, hence the ≥ 2 guard
        .withColumn("bp", expr(
          """CASE WHEN size(tk) >= 2 THEN
            |  filter(sequence(1, size(tk) - 1), i ->
            |    cast(conv(substring(md5(element_at(tk, i)), 1, 8), 16, 10)
            |      as bigint) % 8 = 0)
            |ELSE array() END""".stripMargin))
        .select(col("doc_id"), expr(
          """CASE WHEN size(tk) = 0 THEN cast(array() as array<string>)
            |ELSE zip_with(
            |  concat(array(1), transform(bp, x -> x + 1)),
            |  concat(bp, array(size(tk))),
            |  (st, en) ->
            |    substring(md5(concat_ws(' ', slice(tk, st, en - st + 1))),
            |      1, 16)) END""".stripMargin).as("ch"))
        .localCheckpoint())
      val chunks = withCh.select(col("doc_id"), explode(col("ch")).as("h"))
      val dupHashes = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
        .withColumn("isdup", lit(1L))
      // both per-doc counts fold out of ONE pass over the exploded
      // frame (the dup flag rides a hash-keyed left join); empty docs
      // have no chunk rows, so the id spine re-joins them with 0s
      val perDoc = chunks.join(dupHashes, Seq("h"), "left")
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_chunks"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup_chunks"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
          expr("""CASE WHEN coalesce(n_chunks, 0L) = 0 THEN 0L
                |ELSE (coalesce(n_dup_chunks, 0L) * 1000000L)
                |  div n_chunks END""".stripMargin).as("dup_ppm"))
        .orderBy(col("doc_id"))
    },
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
      |    AS tk
      |  FROM documents),
      |b AS MATERIALIZED (
      |  SELECT doc_id, tk,
      |    CASE WHEN len(tk) >= 2 THEN
      |      list_filter(range(1, len(tk)), i ->
      |        CAST('0x' || substring(md5(tk[i]), 1, 8) AS BIGINT) % 8 = 0)
      |    ELSE [] END AS bp
      |  FROM t),
      |se AS MATERIALIZED (
      |  SELECT doc_id, tk,
      |    list_prepend(1, list_transform(bp, x -> x + 1)) AS st,
      |    list_append(bp, len(tk)) AS en
      |  FROM b WHERE len(tk) > 0),
      |ch AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(st) + 1), j ->
      |      substring(md5(array_to_string(
      |        list_slice(tk, st[j], en[j]), ' ')), 1, 16))) AS h
      |  FROM se),
      |duph AS (
      |  SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      |per AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_chunks
      |  FROM ch WHERE h IN (SELECT h FROM duph) GROUP BY doc_id),
      |nc AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) = 0 THEN 0
      |         ELSE CAST(len(bp) + 1 AS BIGINT) END AS n_chunks
      |  FROM b)
      |SELECT nc.doc_id, nc.n_chunks,
      |  CAST(COALESCE(per.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
      |  CASE WHEN nc.n_chunks = 0 THEN 0
      |       ELSE (COALESCE(per.n_dup_chunks, 0) * 1000000) // nc.n_chunks
      |  END AS dup_ppm
      |FROM nc LEFT JOIN per USING (doc_id)
      |ORDER BY nc.doc_id""".stripMargin)

  // ------------------------------------------------------------ q199
  // The LSH bucket cap made VISIBLE. [[bucketPairs]] truncates each
  // (band, bkey) bucket at MaxBucket members — the right defense
  // against boilerplate-degenerate keys (an all-pairs explosion inside
  // one bucket is quadratic), but past the cap it silently drops
  // candidate pairs, and at 100 TB a boilerplate-heavy corpus WILL
  // have such buckets. This readout counts, per banding space
  // (minhash = q31's 4-band signature, simhash = q80's 4×15-bit bands)
  // and band: buckets emitting pairs, the largest bucket, buckets over
  // the cap, pairs kept, and pairs dropped — so a production run reads
  // its recall erosion as a number instead of inferring it from
  // downstream quality. Counts are per-bucket pre-distinct emission
  // (the same pair surviving in another band still counts as dropped
  // here — this audits the cap, not end-to-end recall; a pair is only
  // LOST if every shared bucket dropped it).
  // Scale shape: two (band, bkey)-keyed aggregates over the banded
  // frames the dedup family already computes; the shuffle carries keys
  // and counts only. Fixture buckets sit far under the cap, so
  // capped_buckets = 0 here — CapAuditSpec forces a degenerate bucket
  // through the parameterized cap to pin the arithmetic.
  private[queries] def capAuditOf(bandedFrame: org.apache.spark.sql.DataFrame,
      space: String, cap: Int = MaxBucket) = {
    val kept = s"(least(sz, ${cap}L) * (least(sz, ${cap}L) - 1)) div 2"
    bandedFrame
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
      .groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(when(col("sz") > cap, 1L).otherwise(0L)).as("capped_buckets"),
        expr(s"sum($kept)").as("pairs_kept"),
        expr(s"sum((sz * (sz - 1)) div 2 - $kept)").as("dropped_pairs"))
      .select(lit(space).as("space"), col("band"), col("n_buckets"),
        col("max_bucket"), col("capped_buckets"), col("pairs_kept"),
        col("dropped_pairs"))
  }

  private def capAuditSql(src: String, space: String) =
    s"""SELECT '$space' AS space, CAST(band AS BIGINT) AS band,
       |  COUNT(*) AS n_buckets, MAX(sz) AS max_bucket,
       |  CAST(SUM(CASE WHEN sz > $MaxBucket THEN 1 ELSE 0 END) AS BIGINT)
       |    AS capped_buckets,
       |  CAST(SUM((LEAST(sz, $MaxBucket) * (LEAST(sz, $MaxBucket) - 1)) // 2)
       |    AS BIGINT) AS pairs_kept,
       |  CAST(SUM((sz * (sz - 1)) // 2
       |    - (LEAST(sz, $MaxBucket) * (LEAST(sz, $MaxBucket) - 1)) // 2)
       |    AS BIGINT) AS dropped_pairs
       |FROM (SELECT band, COUNT(*) AS sz FROM $src
       |      GROUP BY band, bkey HAVING COUNT(*) >= 2) g
       |GROUP BY band""".stripMargin

  private val q199 = QueryDef.of(
    (s, d) => capAuditOf(banded(s, d), "minhash")
      .unionByName(capAuditOf(simBandedOf(simSigs(s, d)), "simhash"))
      .orderBy(col("space"), col("band")),
    s"""$sqlShingled,
       |$sqlMinhash,
       |$sqlSimChain
       |${capAuditSql("banded", "minhash")}
       |UNION ALL
       |${capAuditSql("sbanded", "simhash")}
       |ORDER BY space, band""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q199_lsh_cap_audit" -> q199,
    "q172_cdc_chunk_dedup" -> q172,
    "q133_sentence_dedup" -> q133,
    "q135_cluster_agreement" -> q135,
    "q120_incremental_dedup" -> q120,
    "q132_exact_jaccard_join" -> q132,
    "q150_containment_join" -> q150,
    "q159_golden_record" -> q159,
    "q161_leakage_safe_split" -> q161,
    "q191_split_leakage" -> q191,
    "q192_dup_flow_matrix" -> q192,
    "q195_effective_yield" -> q195,
    "q196_lsh_band_tuning" -> q196,
    "q117_dedup_report" -> q117,
    "q112_dup_spans" -> q112,
    "q163_dup_span_removal" -> q163,
    "q164_curation_funnel" -> q164,
    "q167_span_novelty" -> q167,
    "q170_threshold_curve" -> q170,
    "q30_dedup_exact" -> q30,
    "q31_minhash_lsh" -> q31,
    "q32_simhash" -> q32,
    "q33_ngram_jaccard" -> q33,
    "q35_lang_minhash_union" -> q35,
    "q37_edit_distance" -> q37,
    "q64_dedup_decision" -> q64,
    "q65_dedup_clusters" -> q65,
    "q65b_dedup_clusters_star" -> q65b,
    "q80_simhash_neardup" -> q80)

  /** Bench-pair lifecycle twins for [[spanFrame]]: span_frame is the
    * pinned 8-token span index the engine warms at setup; the override
    * SQL is DERIVED from each verbatim oracle by swapping its span CTE
    * for the pre-built table, so the two cannot drift (and
    * oracle_time.py equality-checks the rows before timing). */
  val oraclePrelude: Seq[String] = Seq(
    """CREATE TEMP TABLE span_frame AS
      |WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents)
      |SELECT doc_id,
      |  unnest(CASE WHEN len(tk) >= 8
      |    THEN range(0, len(tk) - 7) ELSE [] END) AS p,
      |  unnest(CASE WHEN len(tk) >= 8 THEN
      |    list_transform(range(1, len(tk) - 6),
      |      i -> substring(md5(array_to_string(
      |        list_slice(tk, i, i + 7), ' ')), 1, 16))
      |    ELSE [] END) AS h
      |FROM toks""".stripMargin)
  def oracleOverride: Map[String, String] = try {
    // q112: toks exists only to feed its span CTE — replace the whole
    // prefix with a span_frame read
    val sql112 = q112.oracle.get
    val i112 = sql112.indexOf("dups AS (")
    require(i112 >= 0, "q112 oracle lost its dups CTE")
    val o112 = "WITH spans AS (SELECT doc_id, h FROM span_frame),\n" +
      sql112.substring(i112)
    // q163: toks is still read downstream (tokrows, final join) —
    // swap only the spans CTE body
    val sql163 = q163.oracle.get
    val a163 = sql163.indexOf("spans AS MATERIALIZED (")
    val b163 = sql163.indexOf("m1 AS MATERIALIZED (")
    require(a163 >= 0 && b163 > a163, "q163 oracle lost its span CTEs")
    val o163 = sql163.substring(0, a163) +
      "spans AS (SELECT * FROM span_frame),\n" + sql163.substring(b163)
    // q167: the first-occurrence leg reads span_frame (MIN over raw
    // spans ≡ over the distinct sp set); the distinct count keeps sp
    val sql167 = q167.oracle.get
    val fdOld = "fd AS (SELECT h, MIN(doc_id) AS doc_id FROM sp GROUP BY 1),"
    require(sql167.contains(fdOld), "q167 oracle lost its fd CTE")
    val o167 = sql167.replace(fdOld,
      "fd AS (SELECT h, MIN(doc_id) AS doc_id FROM span_frame GROUP BY 1),")
    Map("q112_dup_spans" -> o112,
      "q163_dup_span_removal" -> o163,
      "q167_span_novelty" -> o167)
  } catch {
    // FAIL SOFT on marker drift (the Training.oraclePrelude rule): the
    // pair then times the verbatim oracles; a throw here would cost
    // the round its whole denominator
    case e: Throwable =>
      System.err.println(s"Dedup.oracleOverride disabled: $e")
      Map.empty
  }
}
