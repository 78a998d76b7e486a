package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators over the `documents` table (training-data
  * pipeline surface): token counting, quality scoring, language-ID
  * heuristics, shingling, normalization dedup, content hashing.
  *
  * All implemented with codegen'd built-in functions (split / transform /
  * filter / regexp) — no UDFs, so whole-stage codegen spans the full plan
  * and the ops scale embarrassingly parallel (no shuffle except final agg).
  */
object TextOps {
  /** Cheap linear scans (q30–q32, q34, q35) read the table as-is: a
    * round-robin repartition costs more than the per-row work it would
    * parallelize. Only shingle-heavy q33 pays for `Tables.balanced`. */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  private val words: Column = split(col("text"), " ")

  // ---------------------------------------------------------------- q30
  /** Whitespace token counting. */
  val q30TokenCount: Q = (spark, dir) =>
    docs(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  val q30Oracle: String =
    """SELECT doc_id,
      | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      | CAST(length(text) AS BIGINT) AS len, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Quality scoring: length, word stats, character-class ratios. Ratios
    * are raw int/int IEEE divisions — bit-identical across engines, no
    * rounding (rounding a rational that lands on a half-boundary is the
    * one thing the engines disagree on). */
  val q31QualityScore: Q = (spark, dir) =>
    docs(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"),
        (length(regexp_replace(col("text"), "[^a-z]", ""))
          .cast("double") / length(col("text"))).as("alpha_ratio"),
        (length(regexp_replace(col("text"), "[^ ]", ""))
          .cast("double") / length(col("text"))).as("space_ratio"),
        (length(col("text")).cast("double") /
          size(split(trim(col("text")), "\\s+"))).as("chars_per_word"))
      .orderBy(col("doc_id"))

  val q31Oracle: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
      | CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
      | length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
      |   / length(text) AS alpha_ratio,
      | length(regexp_replace(text, '[^ ]', '', 'g')) * 1.0
      |   / length(text) AS space_ratio,
      | length(text) * 1.0
      |   / len(string_split_regex(trim(text), '\s+')) AS chars_per_word
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Language-ID heuristic: English stopword-hit ratio over tokens
    * (higher-order n-gram models reduce to the same filter/ratio shape). */
  val q32LangId: Q = (spark, dir) => {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val hits = size(filter(words,
      w => stop.map(s => w === s).reduce(_ || _)))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        hits.cast("long").as("n_stop"),
        (hits.cast("double") / size(words)).as("stop_ratio"),
        when(hits >= 1, lit("en-like")).otherwise(lit("other")).as("pred"))
      .orderBy(col("doc_id"))
  }

  val q32Oracle: String =
    """WITH w AS (SELECT doc_id, lang,
      |  len(list_filter(string_split(text, ' '),
      |    x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'
      |      OR x = 'to' OR x = 'in' OR x = 'is')) AS hits,
      |  len(string_split(text, ' ')) AS n FROM documents)
      |SELECT doc_id, lang, CAST(hits AS BIGINT) AS n_stop,
      | hits * 1.0 / n AS stop_ratio,
      | CASE WHEN hits >= 1 THEN 'en-like' ELSE 'other' END AS pred
      |FROM w ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Word 3-gram shingling: distinct-shingle count per doc (the input
    * stage of MinHash dedup). Single native pass over the text
    * (graft.functions.WordShingles); no explode, no shuffle. */
  val q33Shingles: Q = (spark, dir) => {
    val n = size(words)
    Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), n.as("n"),
        size(graft.functions.WordShingles(col("text"), 3))
          .cast("long").as("n_shingles"))
      .filter(col("n") >= 3)
      .select(col("doc_id"), col("n_shingles"),
        (col("n") - 2 - col("n_shingles")).cast("long").as("n_repeated"))
      .orderBy(col("doc_id"))
  }

  val q33Oracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT doc_id, len(ws) AS n,
      |  list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM w)
      |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
      | CAST(n - 2 - len(sh) AS BIGINT) AS n_repeated
      |FROM s WHERE n >= 3 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Normalization dedup: lowercase/strip-punct canonical form, keep the
    * lowest doc_id per group (exact dedup after normalization). */
  val q34NormalizedDedup: Q = (spark, dir) =>
    docs(spark, dir)
      .groupBy(lower(regexp_replace(col("text"), "[^a-zA-Z ]", "")).as("norm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"),
        substring(col("norm"), 1, 40).as("norm_prefix"))
      .orderBy(col("keep_id"))

  val q34Oracle: String =
    """WITH g AS (SELECT lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS norm,
      |  min(doc_id) AS keep_id, count(*) AS n_dups
      | FROM documents GROUP BY 1)
      |SELECT keep_id, n_dups, substring(norm, 1, 40) AS norm_prefix
      |FROM g ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Exact content-hash dedup fingerprint (sha256). */
  val q35ShaFingerprint: Q = (spark, dir) =>
    docs(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"),
        col("source"))
      .orderBy(col("doc_id"))

  val q35Oracle: String =
    """SELECT doc_id, sha256(text) AS text_sha, source
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Document fingerprinting by rolling-hash winnowing (the MOSS scheme):
    * polynomial base-31 hashes over character 7-grams, then the minimum
    * hash of each 4-window of consecutive grams; the distinct window
    * minima are the document's fingerprints. All arithmetic is exact
    * int64 (7 terms × codepoint < 2^16 × 31^6 keeps every sum < 2^52),
    * so Spark and the oracle agree bit-for-bit. Output features are
    * order-insensitive (count / sum / min / max of the fingerprint set).
    * Single narrow pass per document, no shuffle before the final sort. */
  val q50WinnowFingerprint: Q = (spark, dir) => {
    val k = 7
    val w = 4
    // native single-pass gram-hash + window-min + distinct
    // (graft.functions.WinnowFingerprints): identical codepoint/int64
    // arithmetic to the transform/array_min HOF pipeline, ~7 interpreted
    // substr+ascii evaluations per character collapsed into a java loop
    Tables.balanced(spark, dir, "documents")
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        graft.functions.WinnowFingerprints(col("text"), k, w).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        aggregate(col("fps"), lit(0L), (a, x) => a + x).as("fp_sum"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"))
      .orderBy(col("doc_id"))
  }

  val q50Oracle: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 10),
      |h AS (SELECT doc_id, list_transform(range(1, length(text) - 5), i ->
      |  ord(text[i])::BIGINT*887503681 + ord(text[i+1])::BIGINT*28629151 +
      |  ord(text[i+2])::BIGINT*923521 + ord(text[i+3])::BIGINT*29791 +
      |  ord(text[i+4])::BIGINT*961 + ord(text[i+5])::BIGINT*31 +
      |  ord(text[i+6])::BIGINT) AS hs
      | FROM d),
      |m AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, len(hs) - 2), s -> list_min(hs[s:s+3]))) AS fps FROM h)
      |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
      | CAST(list_sum(fps) AS BIGINT) AS fp_sum,
      | list_min(fps) AS fp_min, list_max(fps) AS fp_max
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Fingerprint-overlap near-duplicate pairs — what winnowing is FOR
    * (the MOSS scheme): documents sharing ≥3 winnow fingerprints are
    * candidate near-dups. Scale shape mirrors q39: ubiquitous
    * fingerprints are capped at document frequency ≤ 20 (the stop-gram
    * analog, mirrored in the oracle) so the self-join is bounded by
    * Σ min(freq,K)²; the DF-cap window shuffles on `fp`, exactly the
    * join's partitioning, so both sides reuse one exchange. */
  val q51WinnowPairs: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 7
    val w = 4
    val f = Tables.balanced(spark, dir, "documents")
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("text"), k, w))
          .as("fp"))
    // the DF-cap window's exchange already hash-partitions on fp, which
    // is exactly the self-join's required distribution — both sides
    // reuse that one exchange (no extra repartition)
    val capped = f
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= 20)
      .drop("df")
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q51Oracle: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 10),
      |h AS (SELECT doc_id, list_transform(range(1, length(text) - 5), i ->
      |  ord(text[i])::BIGINT*887503681 + ord(text[i+1])::BIGINT*28629151 +
      |  ord(text[i+2])::BIGINT*923521 + ord(text[i+3])::BIGINT*29791 +
      |  ord(text[i+4])::BIGINT*961 + ord(text[i+5])::BIGINT*31 +
      |  ord(text[i+6])::BIGINT) AS hs
      | FROM d),
      |m AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, len(hs) - 2), s -> list_min(hs[s:s+3]))) AS fps FROM h),
      |f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
      |df AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
      |ff AS (SELECT f.doc_id, f.fp FROM f JOIN df USING (fp)),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  count(*) AS n_shared
      | FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)
      |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 3
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Chunk-level exact dedup (the C4/RefinedWeb "line dedup" pass,
    * adapted to a corpus with no newlines): documents split into
    * deterministic non-overlapping 10-word chunks, each chunk kept only
    * at its corpus-global FIRST occurrence (min (doc_id, pos)); per-doc
    * counts of total vs duplicated chunks come back out.
    *
    * Scale shape: the first-occurrence resolution is an UNORDERED window
    * min-struct over the chunk partition — ONE shuffle of the occurrence
    * set on the chunk key and one pass over the exploded pipeline (a
    * groupBy+self-join formulation would shuffle the same volume AND
    * recompute the explode for the join side); the per-doc rollup then
    * shuffles doc-id counts only. At 100 TB you'd partition on a 128-bit
    * chunk hash instead of the string — same plan, narrower shuffle
    * rows. */
  val q57ChunkDedup: Q = (spark, dir) => {
    val chunkW = 10
    val chunks = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"), posexplode(
        // sequence(0, -1) would DESCEND, so guard the <10-word case to an
        // empty chunk list (the oracle's range(0, 0) likewise drops it)
        when(size(col("ws")) < chunkW, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), (size(col("ws")) / chunkW).cast("int") - 1),
            i => array_join(slice(col("ws"), i * chunkW + 1, lit(chunkW)), " ")))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("chunk"))
    val first = min(struct(col("doc_id"), col("pos")))
      .over(Window.partitionBy(col("chunk")))
    chunks.withColumn("first", first)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("first.doc_id") === col("doc_id") &&
          col("first.pos") === col("pos"), 0L).otherwise(1L)).as("n_dup"))
      .orderBy(col("doc_id"))
  }

  val q57Oracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |c0 AS (SELECT doc_id, ws, unnest(range(0, len(ws)//10)) AS pos FROM w),
      |ch AS (SELECT doc_id, pos,
      |  array_to_string(list_slice(ws, pos*10+1, pos*10+10), ' ') AS chunk
      | FROM c0),
      |f AS (SELECT chunk, min(struct_pack(doc_id := doc_id, pos := pos))
      |        AS first FROM ch GROUP BY chunk)
      |SELECT ch.doc_id, count(*) AS n_chunks,
      | CAST(sum(CASE WHEN f.first.doc_id = ch.doc_id
      |   AND f.first.pos = ch.pos THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
      |FROM ch JOIN f USING (chunk)
      |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin

  // ---------------------------------------------------------------- q59
  /** TF-IDF top terms per document, with an integer-scaled IDF
    * (tf · ⌊100·N/df⌋ in pure int64) so the score — unlike a float
    * ln(N/df) whose last ulp differs between libm implementations — is
    * bit-identical on any engine.
    *
    * Scale shape: one shuffle on (doc_id, token) for TF; document
    * frequency is an unordered window count over the token partition of
    * that SAME result (a groupBy+join formulation would recompute the
    * whole explode pipeline for the join side); the corpus size joins as
    * one broadcast scalar row; top-3 per doc is a WindowGroupLimit-pruned
    * window on doc_id. */
  val q59Tfidf: Q = (spark, dir) => {
    val tf = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), explode(words).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val n = Tables(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
      .crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((100 * n_docs) DIV df)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val q59Oracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |           FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (SELECT doc_id, token, tf * (100 * n_docs // df) AS score
      |      FROM tf JOIN df USING (token), n),
      |r AS (SELECT doc_id, token, score, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY score DESC, token) AS rank
      |      FROM s)
      |SELECT doc_id, rank, token, CAST(score AS BIGINT) AS score
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Deterministic weighted subsampling for a training mix: each source
    * gets a weight in tenths (here ⌊source#⌋ mod 3 + 1, standing in for a
    * configured mixture table) and a document is kept iff
    * doc_id mod 10 < weight. Hash-free and reproducible on any engine —
    * re-running the pipeline selects the same documents, the property a
    * training-data freeze needs (a rand() sample is neither). Single
    * scan, conditional aggregation, no shuffle before the rollup. */
  val q64TrainMix: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .withColumn("w",
        expr("CAST(substring(source, 4) AS INT) % 3 + 1").cast("long"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(pmod(col("doc_id"), lit(10)) < col("w"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy(col("source"))

  val q64Oracle: String =
    """SELECT source, CAST(CAST(substring(source, 4) AS INT) % 3 + 1
      |   AS BIGINT) AS w,
      | count(*) AS n_total,
      | CAST(sum(CASE WHEN doc_id % 10 <
      |   CAST(substring(source, 4) AS INT) % 3 + 1 THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Deterministic per-group sampling: each source keeps its k=5
    * documents with the smallest (content hash, doc_id) — q64's
    * fixed-rate keep rule's sibling for FIXED-SIZE samples (the "give me
    * 10k docs per source for eval/inspection" op). Ordering by the
    * engine-agnostic PolyHashMod of the text makes the sample
    * content-uniform-ish yet exactly reproducible on any engine — a
    * rand() or xxhash64 sample is neither — and insensitive to input
    * order (re-shuffled/re-partitioned corpora pick the same docs).
    *
    * Scale shape: one shuffle on source; the row_number-≤-k filter
    * plans as a WindowGroupLimit, so each map task forwards only its
    * local top-k per group rather than the full partition — per-group
    * work is O(k) past the scan no matter the corpus size. */
  val q97GroupSample: Q = (spark, dir) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    Tables.balanced(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        graft.functions.PolyHashMod(col("text")).as("h"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy(col("source"), col("rank"))
  }

  val q97Oracle: String =
    s"""WITH h AS (SELECT source, doc_id,
       |    ${DedupOps.polyHashSql("text")} AS h FROM documents),
       |r AS (SELECT source, doc_id, h, row_number() OVER (
       |    PARTITION BY source ORDER BY h, doc_id) AS rank FROM h)
       |SELECT source, doc_id, h, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------------- q104
  /** Deterministic train/val/test split — the dataset-freeze op: each
    * document routes to a split by its CONTENT hash (PolyHashMod mod
    * 10: bucket 0 → test, 1 → val, rest → train), so the assignment is
    * reproducible on any engine, stable under re-partitioning/re-
    * ordering, and — because the key is content, not position or id —
    * exact duplicates land in the SAME split (no train/test leakage
    * from dup pairs, the property an id- or rand()-based split lacks).
    * Per (source, split): doc count, char volume, and an id checksum so
    * the oracle pins the exact membership. Map-only routing + one
    * rollup shuffle. */
  val q104SplitAssign: Q = (spark, dir) => {
    val bucket = pmod(graft.functions.PolyHashMod(col("text")), lit(10))
    val split = when(bucket === 0, "test")
      .when(bucket === 1, "val").otherwise("train")
    Tables(spark, dir, "documents")
      .select(col("source"), split.as("split"), col("doc_id"),
        col("n_chars"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"), col("split"))
  }

  val q104Oracle: String =
    s"""WITH h AS (SELECT source, doc_id, n_chars,
       |    ${DedupOps.polyHashSql("text")} % 10 AS b FROM documents),
       |s AS (SELECT source, doc_id, n_chars,
       |    CASE WHEN b = 0 THEN 'test' WHEN b = 1 THEN 'val'
       |         ELSE 'train' END AS split FROM h)
       |SELECT source, split, count(*) AS n_docs,
       | CAST(sum(n_chars) AS BIGINT) AS n_chars,
       | CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM s GROUP BY source, split
       |ORDER BY source, split""".stripMargin

  // ---------------------------------------------------------------- q105
  /** Inverted-index build — token → DELTA-GAP posting list, the storage
    * shape every retrieval index (Lucene, CC index shards) actually
    * writes: per token the doc-id-sorted postings become first-id +
    * gaps, the form that compresses (small ints) and merges (gap lists
    * concatenate across segments after one boundary fix-up). One
    * shuffle on the token key: explode distinct per-doc tokens, then
    * `sort_array(collect_list(doc_id))` per token and an in-row
    * `aggregate` fold — gaps and their order pinned by a base-31
    * polynomial hash mod 2^31−1 (the engine's shared hash family), so
    * the oracle verifies the exact posting SEQUENCE, not just counts.
    * df >= 5 bounds the emitted slice to index-worthy terms.
    *
    * The token emission runs through the native [[ShingleGenerate]]
    * GENERATOR (§2.6's declared UDTF tier) instead of
    * `explode(array_distinct(split))`: one deduped pass per row, no
    * intermediate split/distinct arrays, and the row-emission loop
    * stays inside whole-stage codegen (OpsSpec pins the planned
    * generator class and the codegen'd Generate node). */
  val q105InvertedIndex: Q = (spark, dir) => {
    val postings = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.ShingleGenerate(col("text"), 1).as("token"))
      .groupBy(col("token"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ps"))
      .filter(size(col("ps")) >= 5)
    postings.select(col("token"),
        size(col("ps")).cast("long").as("df"),
        element_at(col("ps"), 1).as("first_doc"),
        (element_at(col("ps"), -1) - element_at(col("ps"), 1))
          .as("gap_span"),
        aggregate(
          zip_with(slice(col("ps"), lit(2), size(col("ps")) - 1),
            slice(col("ps"), lit(1), size(col("ps")) - 1), (a, b) => a - b),
          lit(0L), (acc, g) => (acc * 31L + g) % 2147483647L)
          .as("gap_hash"))
      .orderBy(col("token"))
  }

  val q105Oracle: String =
    """WITH t AS (SELECT DISTINCT doc_id,
      |    unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM documents),
      |p AS (SELECT token, list_sort(list(doc_id)) AS ps FROM t
      |  GROUP BY token HAVING count(*) >= 5)
      |SELECT token, CAST(len(ps) AS BIGINT) AS df,
      | ps[1] AS first_doc, ps[-1] - ps[1] AS gap_span,
      | list_reduce([CAST(0 AS BIGINT)] || list_transform(
      |     range(2, len(ps) + 1), i -> ps[i] - ps[i-1]),
      |   (a, g) -> (a * 31 + g) % 2147483647) AS gap_hash
      |FROM p ORDER BY token""".stripMargin

  // ---------------------------------------------------------------- q106
  /** Sequence packing — the operator between dedup and split in every
    * pretraining pipeline: concatenate documents in a deterministic
    * order and chop the stream into fixed-budget training sequences
    * (B = 512 token units; cost proxy = ⌈n_chars/4⌉, q91's subword
    * budget at document granularity). A document belongs to the
    * sequence where it STARTS; a document whose span crosses a budget
    * boundary is a carry-over into the next sequence(s) — exactly the
    * concatenate-and-chunk layout GPT-family pretraining uses, where
    * boundary docs continue with an attention-mask reset. Per sequence:
    * docs started, docs fully contained, their token mass, the
    * whole-doc fill ratio (tok_full/B — the packing-efficiency metric
    * an underfilled bin-packer would also report), and an id checksum
    * pinning exact membership.
    *
    * Determinism + scale shape: docs route to 8 independent shards by
    * CONTENT hash (reproducible on any engine, stable under
    * re-partitioning, duplicate texts co-shard), and the running sum
    * that lays the stream out is windowed PER SHARD — so there is no
    * global sort bottleneck: at 100 TB each shard packs independently
    * (shards ↦ thousands, one per output file) and the only shuffle is
    * the shard-key exchange the window needs. Order within a shard is
    * (content hash, doc_id): total, engine-agnostic, input-order-free. */
  val q106SequencePack: Q = (spark, dir) => {
    val B = 512L
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.PolyHashMod(col("text")).as("h"),
        // (n+3)/4 exact in doubles (power-of-two divisor), cast truncates
        ((col("n_chars") + lit(3)) / lit(4)).cast("long").as("cost"))
      .withColumn("shard", pmod(col("h"), lit(8)))
      .withColumn("start", coalesce(
        sum(col("cost")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("seq_no", expr(s"start DIV $B"))
      .withColumn("full",
        expr(s"(start + cost - 1) DIV $B") === col("seq_no"))
      .groupBy(col("shard"), col("seq_no"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("full"), 1L).otherwise(0L)).as("n_full"),
        sum(when(col("full"), col("cost")).otherwise(0L)).as("tok_full"),
        sum(col("doc_id")).as("id_sum"))
      .withColumn("fill_ratio", col("tok_full") / lit(B).cast("double"))
      .orderBy(col("shard"), col("seq_no"))
  }

  val q106Oracle: String =
    s"""WITH c AS (SELECT doc_id, ${DedupOps.polyHashSql("text")} AS h,
       |    (n_chars + 3) // 4 AS cost FROM documents),
       |w AS (SELECT doc_id, h, cost, h % 8 AS shard,
       |    CAST(coalesce(sum(cost) OVER (PARTITION BY h % 8
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start FROM c),
       |s AS (SELECT shard, doc_id, cost, start // 512 AS seq_no,
       |    ((start + cost - 1) // 512 = start // 512) AS f FROM w)
       |SELECT shard, seq_no, count(*) AS n_docs,
       | CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
       | CAST(sum(CASE WHEN f THEN cost ELSE 0 END) AS BIGINT) AS tok_full,
       | CAST(sum(doc_id) AS BIGINT) AS id_sum,
       | CAST(sum(CASE WHEN f THEN cost ELSE 0 END) AS DOUBLE) / 512
       |   AS fill_ratio
       |FROM s GROUP BY shard, seq_no ORDER BY shard, seq_no""".stripMargin

  // ---------------------------------------------------------------- q108
  /** The composed curation DAG — scrub → quality → strata → mix as ONE
    * declared query, the end-to-end pipeline a real corpus run executes
    * (each stage is proven in isolation by q86/q66/q81/q64; this pins
    * that the COMPOSITION shares work instead of re-running stages):
    * digit runs are redacted (q86's scrub applied to documents), the
    * scrubbed text scores type-token ratio in integer fixed-point
    * (q66's family), corpus quartiles of the scrubbed length stratify
    * every doc (q81's rank thresholds), and q64's deterministic keep
    * rule marks the training mix. Output per (source, stratum): totals,
    * kept counts, redaction volume, quality mass — joined with the
    * kept-corpus per-stratum token budget (what the mix actually
    * drafts from each quality band).
    *
    * Plan sharing, spec-pinned in OpsSpec: the quartile-threshold
    * subplan is built ONCE and consumed by BOTH branches through the
    * same broadcast — ReuseExchange collapses the second copy to a
    * ReusedExchange, so the single-partition ranking sort runs once per
    * query, not once per consumer. The per-doc stage is map-only
    * (codegen'd regexp + in-row HOFs); the only other exchanges are the
    * two rollups' own aggregations. At 100 TB the exact rank threshold
    * gives way to percentile_approx (q63 anchors that swap) and every
    * other stage keeps its shape. */
  val q108CurationPipeline: Q = (spark, dir) => {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("hits"),
        regexp_replace(col("text"), "[0-9]+", "<NUM>").as("scrub"))
      .withColumn("slen", length(col("scrub")).cast("long"))
      .withColumn("toks", split(col("scrub"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("ttr", expr(
        "CAST(size(array_distinct(toks)) AS BIGINT) * 10000 DIV n_tok"))
      .withColumn("kept", pmod(col("doc_id"), lit(10)) <
        expr("CAST(substring(source, 4) AS INT) % 3 + 1").cast("long"))
      .drop("toks")
    val wnd = Window.orderBy(col("slen"), col("doc_id"))
    def at(q: String): Column =
      col("rk") === expr(s"CAST(ceil($q * n) AS BIGINT)")
    val th = d.withColumn("rk", row_number().over(wnd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(at("0.25") || at("0.5") || at("0.75"))
      .groupBy()
      .agg(min(when(at("0.25"), col("slen"))).as("t25"),
        min(when(at("0.5"), col("slen"))).as("t50"),
        min(when(at("0.75"), col("slen"))).as("t75"))
    val stratum = when(col("slen") <= col("t25"), "s1")
      .when(col("slen") <= col("t50"), "s2")
      .when(col("slen") <= col("t75"), "s3")
      .otherwise("s4")
    val perSource = d.crossJoin(broadcast(th))
      .select(col("source"), stratum.as("stratum"), col("kept"),
        col("hits"), col("ttr"))
      .groupBy(col("source"), col("stratum"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("hits")).as("n_redacted"),
        sum(col("ttr")).as("ttr_sum"))
    val keptBudget = d.filter(col("kept")).crossJoin(broadcast(th))
      .select(stratum.as("stratum"), col("n_tok"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("k_docs"), sum(col("n_tok")).as("k_tokens"))
    perSource.join(keptBudget, Seq("stratum"), "left")
      .select(col("source"), col("stratum"), col("n_total"), col("n_kept"),
        col("n_redacted"), col("ttr_sum"),
        coalesce(col("k_docs"), lit(0L)).as("k_docs"),
        coalesce(col("k_tokens"), lit(0L)).as("k_tokens"))
      .orderBy(col("source"), col("stratum"))
  }

  val q108Oracle: String =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS hits,
      |    regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS scrub
      |  FROM documents),
      |f AS (SELECT doc_id, source, hits, length(scrub) AS slen,
      |    len(string_split(scrub, ' ')) AS n_tok,
      |    len(list_distinct(string_split(scrub, ' '))) * 10000
      |      // len(string_split(scrub, ' ')) AS ttr,
      |    doc_id % 10 < CAST(substring(source, 4) AS INT) % 3 + 1 AS kept
      |  FROM d),
      |r AS (SELECT slen, doc_id,
      |    row_number() OVER (ORDER BY slen, doc_id) AS rk FROM f),
      |n AS (SELECT count(*) AS n FROM f),
      |th AS (SELECT
      |  min(CASE WHEN rk = CAST(ceil(0.25 * n) AS BIGINT)
      |    THEN slen END) AS t25,
      |  min(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
      |    THEN slen END) AS t50,
      |  min(CASE WHEN rk = CAST(ceil(0.75 * n) AS BIGINT)
      |    THEN slen END) AS t75
      |  FROM r, n),
      |s AS (SELECT source, CASE WHEN slen <= t25 THEN 's1'
      |    WHEN slen <= t50 THEN 's2' WHEN slen <= t75 THEN 's3'
      |    ELSE 's4' END AS stratum, kept, hits, ttr, n_tok
      |  FROM f, th),
      |a AS (SELECT source, stratum, count(*) AS n_total,
      |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |    CAST(sum(hits) AS BIGINT) AS n_redacted,
      |    CAST(sum(ttr) AS BIGINT) AS ttr_sum
      |  FROM s GROUP BY source, stratum),
      |b AS (SELECT stratum, count(*) AS k_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS k_tokens
      |  FROM s WHERE kept GROUP BY stratum)
      |SELECT source, stratum, n_total, n_kept, n_redacted, ttr_sum,
      | coalesce(k_docs, 0) AS k_docs, coalesce(k_tokens, 0) AS k_tokens
      |FROM a LEFT JOIN b USING (stratum)
      |ORDER BY source, stratum""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Bigram-LM surprise scoring — the conditional upgrade of q73's
    * unigram rarity, and the integer-exact stand-in for a CCNet/KenLM
    * perplexity filter at its actual model order: each bigram (w,v)
    * scores ⌊1000·cnt(w·)/cnt(w,v)⌋ — the inverse of the corpus-trained
    * conditional probability p(v|w) in ×1000 fixed point (≥1000 by
    * construction; ubiquitous continuations score near 1000, surprising
    * ones high) — and each doc reports its tf-weighted mean. The same
    * ordering a bigram LM's negative log-likelihood induces, with no
    * float log anywhere.
    *
    * Scale shape: ONE explode into the (doc, bigram) aggregate; both
    * model tables ride as unordered window sums over that SAME
    * aggregate — denominator cnt(w,v) over the bigram partition,
    * numerator cnt(w·) over the prefix partition — so the corpus is
    * never re-exploded and nothing joins back (the q73 rule, one model
    * order up). Two key exchanges + the doc rollup, total. */
  val q109BigramSurprise: Q = (spark, dir) => {
    val toks = split(col("text"), " ")
    val bgs = zip_with(slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1), (a, b) => concat_ws(" ", a, b))
    Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(bgs).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("c2", sum(col("tf")).over(Window.partitionBy(col("bg"))))
      .withColumn("c1", sum(col("tf")).over(
        Window.partitionBy(element_at(split(col("bg"), " "), 1))))
      .withColumn("sup", expr("c1 * 1000 DIV c2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        sum(expr("tf * sup")).cast("long").as("surprise_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("surprise_sum"),
        (col("surprise_sum").cast("double") / col("n_bigrams"))
          .as("mean_surprise"))
      .orderBy(col("doc_id"))
  }

  val q109Oracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1])) AS bg FROM w),
      |tf AS (SELECT doc_id, bg, count(*) AS tf FROM b GROUP BY 1, 2),
      |x AS (SELECT doc_id, tf,
      |    sum(tf) OVER (PARTITION BY bg) AS c2,
      |    sum(tf) OVER (PARTITION BY string_split(bg, ' ')[1]) AS c1
      |  FROM tf)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      | CAST(sum(tf * (c1 * 1000 // c2)) AS BIGINT) AS surprise_sum,
      | sum(tf * (c1 * 1000 // c2)) * 1.0 / sum(tf) AS mean_surprise
      |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Token-budget water-filling across sources — the mix-allocation op
    * that turns "60% of the corpus, as balanced as possible" into
    * per-source token budgets: every source is granted min(its tokens,
    * cap) where the cap is the water level at which the grants exactly
    * exhaust the global budget. Small sources keep everything;
    * oversized sources are clipped to a COMMON cap — the fairness rule
    * every domain-mixture scheme (and every rate limiter) converges on.
    *
    * Closed form instead of iteration: with sources sorted by total
    * ascending, a source saturates iff total·(remaining sources) fits
    * in the remaining budget — an integer cross-multiply, no division
    * rounding — and saturation is a PREFIX of the sort order, so the
    * cap for the clipped suffix is one subtraction/division over the
    * saturated prefix sums. Everything windows over the per-source
    * aggregate (k rows, k = source count), so past the one per-source
    * rollup the whole allocation costs nothing at any corpus size. */
  val q110BudgetFill: Q = (spark, dir) => {
    val w = Window.orderBy(col("toks"), col("source"))
    val all = Window.partitionBy()
    docs(spark, dir)
      .groupBy(col("source"))
      .agg(sum(expr("CAST((n_chars + 3) DIV 4 AS BIGINT)")).as("toks"))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum",
        sum(col("toks")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("budget", expr("sum(toks) OVER () * 6 DIV 10"))
      // toks_i <= (budget - cum_{i-1}) / (k - i + 1), cross-multiplied
      .withColumn("sat",
        expr("toks * (k - i + 1) <= budget - (cum - toks)"))
      .withColumn("sat_cum",
        coalesce(max(when(col("sat"), col("cum"))).over(all), lit(0L)))
      .withColumn("n_sat",
        sum(when(col("sat"), 1L).otherwise(0L)).over(all))
      .withColumn("alloc", when(col("sat"), col("toks"))
        .otherwise(expr("(budget - sat_cum) DIV (k - n_sat)")))
      .select(col("source"), col("toks"), col("budget"), col("sat"),
        col("alloc"))
      .orderBy(col("source"))
  }

  val q110Oracle: String =
    """WITH t AS (SELECT source,
      |    CAST(sum((n_chars + 3) // 4) AS BIGINT) AS toks
      |  FROM documents GROUP BY source),
      |r AS (SELECT source, toks,
      |    CAST(row_number() OVER (ORDER BY toks, source) AS BIGINT) AS i,
      |    CAST(sum(toks) OVER (ORDER BY toks, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum,
      |    CAST(count(*) OVER () AS BIGINT) AS k,
      |    CAST(sum(toks) OVER () * 6 // 10 AS BIGINT) AS budget
      |  FROM t),
      |s AS (SELECT *, toks * (k - i + 1) <= budget - (cum - toks) AS sat
      |  FROM r),
      |f AS (SELECT *,
      |    CAST(coalesce(max(CASE WHEN sat THEN cum END) OVER (), 0)
      |      AS BIGINT) AS sat_cum,
      |    CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) OVER ()
      |      AS BIGINT) AS n_sat
      |  FROM s)
      |SELECT source, toks, budget, sat,
      | CASE WHEN sat THEN toks
      |      ELSE (budget - sat_cum) // (k - n_sat) END AS alloc
      |FROM f ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Repetition-quality signals (the Gopher/MassiveText repetition
    * filters): per-doc type-token ratio and the fraction of bigram slots
    * covered by the single most frequent bigram. Heavily repetitive
    * machine-generated text scores low TTR / high top-bigram fraction
    * and gets filtered before training. Everything computes IN-ROW —
    * bigrams via an index HOF, the max bigram frequency as the longest
    * equal-run of the sorted bigram array via one `aggregate` fold — so
    * the pass is map-only + final sort, no per-doc explode/groupBy
    * shuffle (at 100 TB an exploded bigram shuffle would dwarf the scan). */
  val q66Repetition: Q = (spark, dir) => {
    // stage the split() into its own projection: the bigram lambda below
    // reads the token array per ELEMENT, and an inlined split would be
    // re-evaluated per element (lambda bodies are outside codegen's
    // subexpression elimination) — O(tokens²) splits instead of one.
    // The two non-lambda references (size/array_distinct) keep
    // CollapseProject from inlining the alias.
    val ws = col("ws")
    val bigrams = transform(sequence(lit(1), size(ws) - 1),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)))
    val runState = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"))
    val maxBigram = aggregate(array_sort(bigrams), runState,
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs(spark, dir)
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"), size(ws).as("n"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        maxBigram.as("max_bigram_n"))
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        col("n_distinct"),
        (col("n_distinct").cast("double") / col("n")).as("ttr"),
        col("max_bigram_n"),
        (col("max_bigram_n").cast("double") / (col("n") - 1))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val q66Oracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |b AS (SELECT doc_id, len(ws) AS n,
      |  len(list_distinct(ws)) AS nd,
      |  list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1]) AS bgs
      |  FROM t WHERE len(ws) >= 2),
      |e AS (SELECT doc_id, n, nd, unnest(bgs) AS bg FROM b),
      |c AS (SELECT doc_id, n, nd, bg, count(*) AS cnt
      |  FROM e GROUP BY 1, 2, 3, 4),
      |m AS (SELECT doc_id, any_value(n) AS n, any_value(nd) AS nd,
      |  max(cnt) AS mx FROM c GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      | CAST(nd AS BIGINT) AS n_distinct, nd * 1.0 / n AS ttr,
      | CAST(mx AS BIGINT) AS max_bigram_n,
      | mx * 1.0 / (n - 1) AS top_bigram_frac
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Vocabulary build + out-of-vocabulary rate: top-50 corpus tokens by
    * frequency (ties broken by token, fully deterministic), then each
    * doc's token count, OOV count and OOV fraction against that vocab —
    * the tokenizer-coverage analysis run before fixing a vocab/merges
    * table. The frequency pass partial-aggregates map-side; the top-K is
    * a TakeOrdered over the (already tiny) distinct-token aggregate; the
    * vocab joins back as a broadcast — per-doc scoring never shuffles
    * more than the (doc_id, token) pairs it aggregates. */
  val q71VocabOov: Q = (spark, dir) => {
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(words).as("t"))
    val vocab = toks.groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t"))
      .limit(50)
      .select(col("t"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L))
          .cast("long").as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  val q71Oracle: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |v AS (SELECT t FROM (SELECT t, count(*) AS c FROM tk GROUP BY t
      |  ORDER BY c DESC, t LIMIT 50)),
      |pd AS (SELECT doc_id, count(*) AS n_tokens,
      |  sum(CASE WHEN t IN (SELECT t FROM v) THEN 0 ELSE 1 END) AS n_oov
      |  FROM tk GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      | CAST(n_oov AS BIGINT) AS n_oov,
      | n_oov * 1.0 / n_tokens AS oov_rate
      |FROM pd ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** BM25 relevance scoring of the corpus against a fixed query-term set
    * (the retrieval scorer behind RAG indexing and quality-by-query
    * filtering). Okapi BM25 with k1=1.2, b=0.75, computed entirely in
    * scaled int64 arithmetic (×100 fixed-point, integer DIV) so the
    * score — unlike the float log/division form — is bit-identical on
    * any engine: idf ≈ ⌊100N/df⌋, dl/avgdl ≈ ⌊100·dl·N/Σdl⌋.
    *
    * Scale shape: tokens are filtered to the query terms BEFORE the
    * (doc_id, term) aggregation, so the shuffle carries only matching
    * occurrences (|query| ≪ vocab); df is an unordered window count
    * over the term partition of that same tiny aggregate; corpus stats
    * join as one broadcast scalar row; doc length rides the explode
    * (functionally dependent on doc_id — no second join). */
  val q72Bm25: Q = (spark, dir) => {
    val terms = Seq("spark", "join", "window")
    val tf = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("t"))
      .filter(col("t").isInCollection(terms))
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val stats = Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("t_tokens"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("t"))))
      .crossJoin(broadcast(stats))
      .withColumn("idf", expr("(100 * n_docs) DIV df"))
      .withColumn("r", expr("(100 * dl * n_docs) DIV t_tokens"))
      .withColumn("s", expr(
        "(idf * tf * 220) DIV (tf * 100 + (120 * (25 + (75 * r) DIV 100)) DIV 100)"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("n_match"),
        sum(col("s")).cast("long").as("bm25"))
      .orderBy(col("doc_id"))
  }

  val q72Oracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS t FROM w),
      |tf AS (SELECT doc_id, dl, t, count(*) AS tf FROM t
      |  WHERE t IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
      |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
      |st AS (SELECT count(*) AS n_docs, sum(len(ws)) AS t_tokens FROM w),
      |s AS (SELECT doc_id, dl,
      |  (((100 * n_docs) // df) * tf * 220) //
      |   (tf * 100 + (120 * (25 + (75 * ((100 * dl * n_docs) // t_tokens))
      |     // 100)) // 100) AS s
      | FROM tf JOIN df USING (t), st)
      |SELECT doc_id, CAST(dl AS BIGINT) AS dl, count(*) AS n_match,
      | CAST(sum(s) AS BIGINT) AS bm25
      |FROM s GROUP BY doc_id, dl ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Mean-token-rarity quality score (the integer-exact stand-in for a
    * CCNet/KenLM perplexity filter): rarity(t) = ⌊T / cnt(t)⌋ against
    * the corpus unigram table (T = total corpus tokens), and each doc
    * scores the tf-weighted mean rarity of its tokens. Boilerplate-heavy
    * docs of ubiquitous tokens score low; rare-token docs score high —
    * the same ordering a unigram LM's negative log-likelihood induces,
    * with no float log in sight.
    *
    * Scale shape: one (doc_id, token) aggregation shuffle; the global
    * unigram count is an unordered window sum over the token partition
    * of that SAME aggregate (no second explode, no vocab join); the
    * corpus total joins as one broadcast scalar row; the per-doc rollup
    * shuffles doc-id partials only. */
  val q73Rarity: Q = (spark, dir) => {
    val tf = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), explode(words).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val total = Tables(spark, dir, "documents")
      .agg(sum(size(split(col("text"), " "))).cast("long").as("t_tokens"))
    tf.withColumn("cnt", sum(col("tf")).over(Window.partitionBy(col("t"))))
      .crossJoin(broadcast(total))
      .withColumn("rar", expr("t_tokens DIV cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        sum(expr("tf * rar")).cast("long").as("rarity_sum"))
      .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
        (col("rarity_sum").cast("double") / col("n_tokens")).as("mean_rarity"))
      .orderBy(col("doc_id"))
  }

  val q73Oracle: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY 1, 2),
      |c AS (SELECT t, sum(tf) AS cnt FROM tf GROUP BY t),
      |st AS (SELECT count(*) AS t_tokens FROM tk),
      |s AS (SELECT doc_id, tf, t_tokens // cnt AS rar
      |  FROM tf JOIN c USING (t), st)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      | CAST(sum(tf * rar) AS BIGINT) AS rarity_sum,
      | sum(tf * rar) * 1.0 / sum(tf) AS mean_rarity
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Quality stratification: corpus-quartile thresholds of `n_chars`
    * picked by RANK (the value at position ⌈q·n⌉ — an actual corpus
    * value, like percentile_disc), then every doc bucketed and counted per
    * (source, stratum) — the stratified view a mixing recipe is
    * calibrated against. Rank-based thresholds avoid interpolation
    * entirely, so there is no float to disagree on at any scale.
    *
    * Scale shape: the threshold pass globally sorts only the 3-column
    * (value, id) projection and reduces to 3 rows joined back as a
    * broadcast; the bucketing pass is map-only + one (source, stratum)
    * rollup. At 100 TB the exact global sort gives way to
    * percentile_approx thresholds — q63 anchors that substitution. */
  val q81QualityStrata: Q = (spark, dir) => {
    val d = docs(spark, dir).select(col("doc_id"), col("source"),
      col("n_chars"))
    // corpus size rides IN-PLAN as an unbounded window count over the
    // same single-partition sort the ranking needs — no driver-side
    // count() action, no second scan (the q72/q73 broadcast-scalar rule)
    val w = Window.orderBy(col("n_chars"), col("doc_id"))
    def at(q: String): Column =
      col("rk") === expr(s"CAST(ceil($q * n) AS BIGINT)")
    val th = d.withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(at("0.25") || at("0.5") || at("0.75"))
      .groupBy()
      .agg(min(when(at("0.25"), col("n_chars"))).as("t25"),
        min(when(at("0.5"), col("n_chars"))).as("t50"),
        min(when(at("0.75"), col("n_chars"))).as("t75"))
    d.crossJoin(broadcast(th))
      .select(col("source"),
        when(col("n_chars") <= col("t25"), "q1")
          .when(col("n_chars") <= col("t50"), "q2")
          .when(col("n_chars") <= col("t75"), "q3")
          .otherwise("q4").as("stratum"))
      .groupBy(col("source"), col("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("stratum"))
  }

  val q81Oracle: String =
    """WITH r AS (SELECT source, n_chars, row_number() OVER (
      |    ORDER BY n_chars, doc_id) AS rk FROM documents),
      |n AS (SELECT count(*) AS n FROM documents),
      |th AS (SELECT
      |  min(CASE WHEN rk = CAST(ceil(0.25 * n) AS BIGINT)
      |    THEN n_chars END) AS t25,
      |  min(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
      |    THEN n_chars END) AS t50,
      |  min(CASE WHEN rk = CAST(ceil(0.75 * n) AS BIGINT)
      |    THEN n_chars END) AS t75
      | FROM r, n)
      |SELECT source, CASE WHEN n_chars <= t25 THEN 'q1'
      |  WHEN n_chars <= t50 THEN 'q2'
      |  WHEN n_chars <= t75 THEN 'q3' ELSE 'q4' END AS stratum,
      | count(*) AS n_docs
      |FROM documents, th GROUP BY 1, 2 ORDER BY source, stratum""".stripMargin

  // ---------------------------------------------------------------- q91
  /** BPE-ish pre-tokenization (the regex split stage every GPT-family
    * tokenizer runs before merges): letter runs / digit runs / punct
    * runs via one codegen'd `regexp_extract_all`, per-doc piece stats,
    * and a SUBWORD BUDGET — each piece costs ⌈len/4⌉ units, the crude
    * merge-limit proxy that tracks real BPE token counts closely enough
    * for cost estimation (token-budget planning before the expensive
    * exact tokenizer pass). The piece-walk folds are in-row HOFs over
    * the extracted array; map-only, one pass, complementing q30's
    * whitespace count. The character classes are chosen inside the
    * Java∩RE2 common subset so both engines extract identical pieces. */
  val q91BpePretokenize: Q = (spark, dir) => {
    val pieces = regexp_extract_all(col("text"),
      lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"), lit(0))
    docs(spark, dir)
      .select(col("doc_id"), pieces.as("pieces"))
      .select(col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        size(array_distinct(col("pieces"))).cast("long").as("n_distinct"),
        coalesce(array_max(transform(col("pieces"), p => length(p))), lit(0))
          .cast("long").as("max_len"),
        // (len+3)/4 is exact in doubles (power-of-two divisor) and the
        // cast truncates the positive quotient — integer ceil-div
        aggregate(col("pieces"), lit(0L),
          (acc, p) => acc + ((length(p) + lit(3)) / lit(4)).cast("long"))
          .as("n_subwords"))
      .orderBy(col("doc_id"))
  }

  val q91Oracle: String =
    """WITH p AS (SELECT doc_id,
      |    regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')
      |      AS pieces
      |  FROM documents)
      |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces,
      | CAST(len(list_distinct(pieces)) AS BIGINT) AS n_distinct,
      | CAST(coalesce(list_max(list_transform(pieces, x -> length(x))), 0)
      |   AS BIGINT) AS max_len,
      | CAST(list_sum(list_transform(pieces, x -> (length(x) + 3) // 4))
      |   AS BIGINT) AS n_subwords
      |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q112
  /** DSIR-style importance weighting (Xie et al. 2023): score every doc
    * by how much more likely its hashed n-gram features are under the
    * TARGET distribution (here: the English subcorpus) than under the
    * RAW corpus — the importance-resampling signal that tilts a
    * pretraining mix toward a target domain without training a model.
    *
    * Features are unigrams hashed into 64 buckets (PolyHashMod — the
    * engine-shared hash family), and the per-bucket likelihood ratio is
    * add-one-smoothed integer fixed-point:
    *   w(b) = ⌊1000·(tgt_b+1)·(N_raw+64) / ((raw_b+1)·(N_tgt+64))⌋
    * — all-int64, engine-exact, no float log (the ratio ORDERING is what
    * resampling consumes, and ⌊1000·r⌋ preserves it to 3 decimals).
    *
    * Scale shape: ONE (doc, bucket) aggregation shuffle; both model
    * tables (per-bucket raw/target counts) are unordered window sums
    * over that same 64-bucket-per-doc aggregate — no second explode, no
    * vocab join (the q73/q109 rule); corpus totals ride as window sums
    * over the empty partition of the SAME aggregate (≤ 64·|docs| rows,
    * and at 100 TB the 64-row bucket model is a broadcast join off a
    * pre-reduced aggregate instead). */
  val q112DsirWeights: Q = (spark, dir) => {
    val tf = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(words).as("t"))
      .select(col("doc_id"), col("lang"),
        pmod(graft.functions.PolyHashMod(col("t")), lit(64L)).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    val wB = Window.partitionBy(col("bucket"))
    val wAll = Window.partitionBy()
    val tgtTf = when(col("lang") === "en", col("tf")).otherwise(0L)
    tf.withColumn("raw_cnt", sum(col("tf")).over(wB))
      .withColumn("tgt_cnt", sum(tgtTf).over(wB))
      .withColumn("n_raw", sum(col("tf")).over(wAll))
      .withColumn("n_tgt", sum(tgtTf).over(wAll))
      .withColumn("w", expr(
        "(1000 * (tgt_cnt + 1) * (n_raw + 64)) DIV ((raw_cnt + 1) * (n_tgt + 64))"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        sum(expr("tf * w")).cast("long").as("imp_sum"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("imp_sum"),
        (col("imp_sum").cast("double") / col("n_tokens")).as("mean_imp"))
      .orderBy(col("doc_id"))
  }

  val q112Oracle: String =
    s"""WITH tk AS (SELECT doc_id, lang,
       |    unnest(string_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT doc_id, lang,
       |    ${DedupOps.polyHashSql("t")} % 64 AS bucket, count(*) AS tf
       |  FROM tk GROUP BY 1, 2, 3),
       |c AS (SELECT bucket, sum(tf) AS raw_cnt,
       |    sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS tgt_cnt
       |  FROM tf GROUP BY bucket),
       |g AS (SELECT sum(tf) AS n_raw,
       |    sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS n_tgt FROM tf),
       |s AS (SELECT doc_id, lang, tf,
       |    (1000 * (tgt_cnt + 1) * (n_raw + 64))
       |      // ((raw_cnt + 1) * (n_tgt + 64)) AS w
       |  FROM tf JOIN c USING (bucket), g)
       |SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_tokens,
       | CAST(sum(tf * w) AS BIGINT) AS imp_sum,
       | sum(tf * w) * 1.0 / sum(tf) AS mean_imp
       |FROM s GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Retrieval-chunk inventory with cross-corpus chunk dedup: slide a
    * fixed window (80 chars, stride 60 — the standard overlapping RAG
    * chunking) over every document, fingerprint each chunk, and keep
    * only the FIRST occurrence of each fingerprint corpus-wide (the
    * chunk-granular analog of RefinedWeb's paragraph dedup — boilerplate
    * that many docs share is stored and embedded once).
    *
    * Scale shape: chunking is an in-row sequence+substring projection
    * (map-only, ~n_chars/stride rows per doc); first-occurrence is ONE
    * window over the chunk-hash key — the only shuffle, on a key whose
    * groups are duplicate sets (small by construction). Emitting per-doc
    * rollups (chunks, dups, surviving chars, hash checksum) keeps the
    * result doc-sized while pinning the full chunk assignment. */
  val q113ChunkDedup: Q = (spark, dir) => {
    val win = 80
    val stride = 60
    val ch = docs(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest(length(col("text")) - 1, lit(0)),
          lit(stride))).as("st"))
      .select(col("doc_id"), expr(s"st DIV $stride").as("idx"),
        expr(s"substring(text, st + 1, $win)").as("c"))
      .select(col("doc_id"), col("idx"),
        length(col("c")).cast("long").as("clen"),
        graft.functions.PolyHashMod(col("c")).as("h"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
    ch.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).cast("long").as("n_dup"),
        sum(when(col("rn") === 1, col("clen")).otherwise(0L)).cast("long")
          .as("kept_chars"),
        sum(col("h")).cast("long").as("chunk_checksum"))
      .orderBy(col("doc_id"))
  }

  val q113Oracle: String =
    s"""WITH st AS (SELECT doc_id, text,
       |    unnest(generate_series(0, greatest(length(text) - 1, 0), 60))
       |      AS st FROM documents),
       |ch AS (SELECT doc_id, st // 60 AS idx,
       |    substring(text, st + 1, 80) AS c FROM st),
       |h AS (SELECT doc_id, idx, CAST(length(c) AS BIGINT) AS clen,
       |    ${DedupOps.polyHashSql("c")} AS h FROM ch),
       |r AS (SELECT *, row_number() OVER (PARTITION BY h
       |    ORDER BY doc_id, idx) AS rn FROM h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       | CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       | CAST(sum(CASE WHEN rn = 1 THEN clen ELSE 0 END) AS BIGINT)
       |   AS kept_chars,
       | CAST(sum(h) AS BIGINT) AS chunk_checksum
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Within-source repeated-shingle coverage — the boilerplate signal of
    * Common-Crawl-style curation: a word 3-gram that recurs across
    * MULTIPLE documents of the same source is template text (headers,
    * navigation, legal footers), and a document dominated by such
    * shingles is boilerplate. Flags shingles with within-source document
    * frequency ≥ 2 and scores each doc's flagged share in integer
    * fixed-point (⌊100·rep/total⌋). On this synthetic corpus df maxes
    * at 3; production corpora use a df/|source| percentage threshold —
    * same plan, different constant.
    *
    * Scale shape: per-doc distinct shingles explode once; the document
    * frequency is an unordered window count over the (source, shingle)
    * partition of that SAME exploded set (no self-join, no second pass
    * — the q73 rule on a composite key); the per-doc rollup shuffles
    * doc-id partials only. */
  val q114BoilerplateCov: Q = (spark, dir) => {
    val sh = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(DedupOps.shingles3(col("text")))).as("s"))
    val wDf = Window.partitionBy(col("source"), col("s"))
    sh.withColumn("df", count(lit(1)).over(wDf))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long").as("n_rep"))
      .select(col("doc_id"), col("source"), col("n_shingles"), col("n_rep"),
        expr("(100 * n_rep) DIV n_shingles").as("rep_pct"))
      .orderBy(col("doc_id"))
  }

  val q114Oracle: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM d),
      |f AS (SELECT doc_id, source, s,
      |    count(*) OVER (PARTITION BY source, s) AS df FROM sh)
      |SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_shingles,
      | CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
      | CAST((100 * sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)) // count(*)
      |   AS BIGINT) AS rep_pct
      |FROM f GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q118
  /** BPE merge-pair statistics — the aggregation a byte-pair-encoding
    * tokenizer trainer loops: weighted adjacent-symbol-pair counts over
    * the corpus, ranked. The critical scale trick is the REAL one every
    * BPE trainer uses: reduce the corpus to its word histogram first
    * (one map-side-combinable shuffle), then enumerate pairs over the
    * VOCABULARY weighted by word count — pair enumeration cost is
    * O(|vocab|·word_len), independent of corpus size. Top-20 by count
    * (pair ascending on ties) = the first merge candidate list; a full
    * trainer re-runs this aggregate per merge round on the re-segmented
    * vocab, so this IS the loop body's cost shape at 100 TB. */
  val q118BpePairs: Q = (spark, dir) => {
    val wc = Tables.balanced(spark, dir, "documents")
      .select(explode(words).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = wc.filter(length(col("w")) >= 2)
      .select(col("cnt"), col("w"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"), col("cnt"))
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("pair"), col("cnt"))
      .orderBy(col("rank"))
  }

  val q118Oracle: String =
    """WITH wc AS (SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |ix AS (SELECT w, cnt,
      |    unnest(generate_series(1, length(w) - 1)) AS i
      |  FROM wc WHERE length(w) >= 2),
      |p AS (SELECT substring(w, i, 2) AS pair, cnt FROM ix),
      |g AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt
      |  FROM p GROUP BY pair),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, pair)
      |    AS BIGINT) AS rank FROM g)
      |SELECT rank, pair, cnt FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Linear quality-classifier inference — the fastText tier of
    * model-based document filtering (score each doc with a trained
    * linear model over hashed bag-of-words features; keep docs above
    * the margin). The weight table is formulaic here (w[b] = (b·37 mod
    * 21) − 10, fixed-point ×1 integers) so the oracle regenerates it;
    * a real deployment swaps in trained weights via the same broadcast
    * — inference shape is identical.
    *
    * score = Σ_tokens w[bucket(t)] (sum-of-weights form; the tf-mean
    * division is deferred to a single integer DIV at the end, so
    * everything before the margin test is exact int64). Scale shape:
    * ONE (doc, bucket) aggregate shuffle, weights attach as a pure
    * PROJECTION (the bucket → weight map is a closed formula — no join,
    * no broadcast table needed), per-doc rollup on doc_id partials.
    * Classification (margin > 0) is an integer comparison. */
  val q120QualityClassifier: Q = (spark, dir) => {
    val tf = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), explode(words).as("t"))
      .select(col("doc_id"),
        pmod(graft.functions.PolyHashMod(col("t")), lit(64L)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("w", expr("(bucket * 37) % 21 - 10"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        sum(expr("tf * w")).cast("long").as("score_sum"))
      .select(col("doc_id"), col("n_tokens"), col("score_sum"),
        expr("score_sum DIV n_tokens").as("mean_score"),
        (col("score_sum") > 0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q120Oracle: String =
    s"""WITH tk AS (SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT doc_id, ${DedupOps.polyHashSql("t")} % 64 AS bucket,
       |    count(*) AS tf FROM tk GROUP BY 1, 2),
       |s AS (SELECT doc_id, tf, (bucket * 37) % 21 - 10 AS w FROM tf)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       | CAST(sum(tf * w) AS BIGINT) AS score_sum,
       | CAST(sum(tf * w) // sum(tf) AS BIGINT) AS mean_score,
       | sum(tf * w) > 0 AS keep
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Conjunctive retrieval — the QUERY-side of the index stack (q105
    * builds the postings, q72 proves the scorer; this executes a
    * search): docs containing ALL query terms, ranked by an integer
    * tf·idf sum, top-10. The engine shape is the one a distributed
    * search tier uses: the term filter lands BEFORE the only shuffle
    * (non-matching tokens never leave the map side — at 100 TB the
    * exchange carries only the posting rows for 3 terms, not the
    * corpus), the conjunction is a count-distinct-terms = |query| test
    * on the (doc, term) aggregate, df comes from a window over that
    * same aggregate (no second corpus pass), n_docs attaches as one
    * broadcast scalar, and the top-10 plans as TakeOrderedAndProject
    * (per-partition heads, never a global sort). Ties break on doc_id
    * so the result SET is total-order deterministic on any engine. */
  val q121ConjunctiveSearch: Q = (spark, dir) => {
    val terms = Seq("spark", "join", "window")
    val tf = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), explode(words).as("t"))
      .filter(col("t").isInCollection(terms))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("t"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("s", expr("tf * ((100 * n_docs) DIV df)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s")).cast("long").as("score"))
      .filter(col("n_terms") === terms.size)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("score"))
  }

  val q121Oracle: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tk
      |  WHERE t IN ('spark', 'join', 'window') GROUP BY 1, 2),
      |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (SELECT doc_id, sum(tf * ((100 * n_docs) // df)) AS score,
      |    count(*) AS n_terms FROM tf JOIN df USING (t), nd
      |  GROUP BY doc_id)
      |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
      |WHERE n_terms = 3 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Within-document repeated-span measure — the INTRA-doc face of
    * dedup (q57/q113 dedup across the corpus; C4's other rule drops
    * repeated spans inside one document): per doc, sliding word
    * trigrams built IN-ROW via an index HOF, repetition = shingles
    * minus distinct shingles. Zero shuffle, zero joins — the whole
    * measure is a map-only projection (whole-stage-codegen'd array
    * ops), so at 100 TB it costs exactly one read pass and composes
    * free with any other per-doc stage. Docs shorter than one trigram
    * degrade to a single whole-text shingle (never an empty array). */
  val q122IntraDocRepeat: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"),
        expr("transform(sequence(0, greatest(size(ws) - 3, 0)), " +
          "i -> concat_ws(' ', slice(ws, i + 1, 3)))").as("sh"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_grams"),
        size(array_distinct(col("sh"))).cast("long").as("n_uniq"))
      .withColumn("n_rep", col("n_grams") - col("n_uniq"))
      .withColumn("rep_pct", expr("(100 * n_rep) DIV n_grams"))
      .orderBy(col("doc_id"))

  val q122Oracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |c AS (SELECT doc_id, list_transform(
      |    range(0, greatest(len(ws) - 2, 1)),
      |    i -> array_to_string(ws[i + 1 : i + 3], ' ')) AS sh FROM w)
      |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams,
      | CAST(len(list_distinct(sh)) AS BIGINT) AS n_uniq,
      | CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS n_rep,
      | CAST((100 * (len(sh) - len(list_distinct(sh)))) // len(sh)
      |   AS BIGINT) AS rep_pct
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Heavy hitters, two-pass: the CMS-prune → exact-verify pipeline
    * that finds every token above a frequency share WITHOUT shuffling
    * the vocabulary. Pass 1 folds all token occurrences into ONE 32 KB
    * count-min sketch + the corpus total (a scalar aggregate — map
    * partials merge, nothing keyed shuffles). Pass 2 probes the
    * driver-held sketch as a shared LITERAL, MAP-SIDE: only
    * occurrences whose estimate clears
    * total/200 enter the exact groupBy — at 100 TB the heavy tail
    * (nearly all of a Zipfian vocabulary) never reaches the exchange.
    * CMS never undercounts, so the candidate set is a SUPERSET of the
    * truth and the exact verify makes the final answer EXACT — the
    * oracle is pure relational arithmetic with no sketch in sight
    * (collisions can only admit extra candidates, which the verify
    * then rejects; they can never lose one). Tokens key the sketch via
    * PolyHashMod — a hash collision merges two tokens' estimates,
    * which again only widens the candidate set. */
  val q127HeavyHitters: Q = (spark, dir) => {
    import graft.functions.{CountMin, PolyHashMod}
    val toks = Tables.balanced(spark, dir, "documents")
      .select(explode(words).as("t"))
      .select(col("t"), PolyHashMod(col("t")).as("h"))
    // Driver-held sketch probed as a LITERAL (the q93/q174 shape): the
    // old crossJoin(broadcast(sketch)) attached the 32 KB CMS as a
    // column to every token OCCURRENCE, and each estimateCol eval paid
    // a per-row getBinary copy of the whole sketch.
    val r = toks.agg(
      CountMin.build(col("h"), 1024).as("cms"),
      count(lit(1)).as("total")).head
    val cmsBytes = r.getAs[Array[Byte]]("cms")
    val total = r.getAs[Long]("total")
    toks
      .filter(CountMin.estimateCol(lit(cmsBytes), col("h")) >=
        lit(total / 200L))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(total / 200L))
      .select(col("t").as("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  val q127Oracle: String =
    """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |tot AS (SELECT count(*) AS n FROM tk),
      |c AS (SELECT t, count(*) AS cnt FROM tk GROUP BY t)
      |SELECT t AS token, CAST(cnt AS BIGINT) AS cnt FROM c, tot
      |WHERE cnt >= n // 200 ORDER BY cnt DESC, t""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Classifier evaluation — the confusion matrix + per-class recall
    * every model-based filter stage (q32 language-ID here; q120's
    * quality classifier identically) needs before its threshold goes
    * to production: per (true lang, predicted class) counts, each
    * row's integer share of its true-class total (the recall diagonal
    * / leakage off-diagonal). One aggregate on the already-map-only
    * prediction pass + an unordered window over the k·|classes| rows —
    * the eval costs nothing at any corpus size. */
  val q128LangIdEval: Q = (spark, dir) =>
    q32LangId(spark, dir)
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total",
        sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("pct", expr("(100 * n) DIV lang_total"))
      .orderBy(col("lang"), col("pred"))

  val q128Oracle: String =
    """WITH w AS (SELECT doc_id, lang,
      |  len(list_filter(string_split(text, ' '),
      |    x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'
      |      OR x = 'to' OR x = 'in' OR x = 'is')) AS hits
      |  FROM documents),
      |m AS (SELECT lang,
      |    CASE WHEN hits >= 1 THEN 'en-like' ELSE 'other' END AS pred,
      |    count(*) AS n FROM w GROUP BY 1, 2)
      |SELECT lang, pred, CAST(n AS BIGINT) AS n,
      | CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
      | CAST((100 * n) // (sum(n) OVER (PARTITION BY lang)) AS BIGINT)
      |   AS pct
      |FROM m ORDER BY lang, pred""".stripMargin

  // ---------------------------------------------------------------- q134
  /** PHRASE search — the positional tier of the retrieval stack (q105
    * stores postings, q121 executes conjunctive AND; a phrase query
    * "window join" additionally needs POSITIONS, which is why every
    * production index stores them): token positions for ONLY the
    * phrase's terms survive the map side (`posexplode` + an `isin`
    * filter BEFORE the exchange — at 100 TB the shuffle carries two
    * terms' postings, never the corpus), the phrase resolves as a
    * positional-adjacency self-join `pos_b = pos_a + 1` on the doc
    * key — both sides share that key, so the join is one exchange per
    * side and the per-doc rollup (occurrence count, first hit
    * position) reuses the same partitioning with no further shuffle.
    * This is exactly how Lucene executes PhraseQuery: intersect
    * postings, then align positions with a relative offset. */
  val q134PhraseSearch: Q = (spark, dir) => {
    val pos = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), posexplode(words).as(Seq("pos", "t")))
      .filter(col("t").isInCollection(Seq("window", "join")))
    val a = pos.filter(col("t") === "window")
      .select(col("doc_id"), col("pos").as("pa"))
    val b = pos.filter(col("t") === "join")
      .select(col("doc_id"), col("pos").as("pb"))
    a.join(b, Seq("doc_id"))
      .filter(col("pb") === col("pa") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("pa")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  val q134Oracle: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> struct_pack(pos := i - 1, bg := w[i] || ' ' || w[i+1])))
      |    AS s FROM tk)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
      | CAST(min(s.pos) AS BIGINT) AS first_pos
      |FROM bi WHERE s.bg = 'window join'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q135
  /** Content-defined chunking — the SHIFT-ROBUST boundary rule the
    * fixed-granularity dedup passes (q57's 10-word chunks, q113's
    * 80/60 windows) cannot provide: a single inserted word shifts
    * every later fixed boundary, so an edited near-copy shares ~no
    * chunks with its original. CDC (the Rabin/FastCDC family, here the
    * word-level gear rule: cut after a word whose content hash ≡ 0
    * mod 8, expected chunk ~8 words) decides each boundary from
    * CONTENT alone, so an insertion perturbs only the chunk it lands
    * in — the emitted `retained_pct` PROVES it by re-chunking every
    * document with one word prepended and measuring surviving distinct
    * chunks (~80–90% vs ~0% for fixed-size under the same edit).
    * Scale shape: boundary detection, chunk assembly, and the
    * edit-overlap compare are all IN-ROW (filter/transform/slice HOFs
    * + array_intersect — no per-chunk explode for the robustness
    * side); the only exchange is the per-source distinct-chunk count,
    * and it shuffles 8-byte PolyHashMod chunk hashes, never chunk
    * text. */
  val q135CdcChunks: Q = (spark, dir) => {
    import graft.functions.PolyHashMod
    // Every stage lands in its OWN named column: inlining `bounds` into
    // the chunk-assembly lambda would re-evaluate the whole cut
    // computation (a PolyHashMod filter over the words) once per chunk
    // INDEX — O(len²·hash) per doc, measured 54 s at sf0.1 vs ~2 s
    // staged. Named per-row arrays are computed once; the lambdas then
    // do O(1) element_at reads.
    def cutsOf(ws: Column): Column =
      filter(sequence(lit(1), size(ws)),
        i => (PolyHashMod(element_at(ws, i)) % 8 === 0) || (i === size(ws)))
    def chunksFrom(ws: Column, cuts: Column, bounds: Column): Column =
      transform(sequence(lit(1), size(cuts)), j =>
        concat_ws(" ", slice(ws, element_at(bounds, j) + lit(1),
          element_at(bounds, j + lit(1)) - element_at(bounds, j))))
    val d = Tables.balanced(spark, dir, "documents")
      .select(col("source"), col("doc_id"), words.as("ws"))
      .withColumn("wse", concat(array(lit("xEDITx")), col("ws")))
      .withColumn("cuts", cutsOf(col("ws")))
      .withColumn("cuts2", cutsOf(col("wse")))
      .withColumn("bounds", concat(array(lit(0)), col("cuts")))
      .withColumn("bounds2", concat(array(lit(0)), col("cuts2")))
      .withColumn("chunks",
        chunksFrom(col("ws"), col("cuts"), col("bounds")))
      .withColumn("chunks2",
        chunksFrom(col("wse"), col("cuts2"), col("bounds2")))
    val perDoc = d.select(col("source"),
        size(col("chunks")).cast("long").as("nc"),
        size(array_distinct(col("chunks"))).cast("long").as("den"),
        size(array_intersect(col("chunks"), col("chunks2"))).cast("long")
          .as("ret"))
      .groupBy(col("source"))
      .agg(sum(col("nc")).as("n_chunks"), sum(col("den")).as("den"),
        sum(col("ret")).as("ret"))
    // explode_OUTER, deliberately: plain explode triggers
    // InferFiltersFromGenerate, which clones the ENTIRE chunk pipeline
    // into an inferred size(chunks)>0 pre-filter — with `bounds`
    // expanded 3× inside it, the inlined predicate goes O(len²·hash)
    // per doc (measured 52 s vs 2.5 s at sf0.1). Outer generate is
    // exempt from the inference, and is semantically identical here:
    // every doc has ≥1 chunk (the final cut is unconditional), and
    // countDistinct ignores the nulls an empty array would add.
    val dist = d.select(col("source"),
        explode_outer(col("chunks")).as("chunk"))
      .groupBy(col("source"))
      .agg(countDistinct(PolyHashMod(col("chunk"))).as("n_distinct"))
    perDoc.join(dist, Seq("source"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        expr("(100 * (n_chunks - n_distinct)) DIV n_chunks").as("dup_pct"),
        expr("(100 * ret) DIV den").as("retained_pct"))
      .orderBy(col("source"))
  }

  val q135Oracle: String = {
    // NOTE: polyHashSql's internal lambda binds `i` — every enclosing
    // lambda here must use a DIFFERENT variable name (wi/j) or the
    // inner binding shadows the outer one and the hash reads garbage.
    def boundsSql(ws: String): String =
      s"""[0] || list_filter(range(1, len($ws)+1),
         |      wi -> ${DedupOps.polyHashSql(s"$ws[wi]")} % 8 = 0
         |        OR wi = len($ws))""".stripMargin
    s"""WITH d AS (SELECT source, doc_id, string_split(text, ' ') AS ws,
       |    ['xEDITx'] || string_split(text, ' ') AS ws2 FROM documents),
       |bs AS (SELECT source, doc_id, ws, ws2,
       |    ${boundsSql("ws")} AS b1,
       |    ${boundsSql("ws2")} AS b2 FROM d),
       |c AS (SELECT source, doc_id,
       |    list_transform(range(1, len(b1)),
       |      j -> array_to_string(ws[b1[j]+1 : b1[j+1]], ' ')) AS chunks,
       |    list_transform(range(1, len(b2)),
       |      j -> array_to_string(ws2[b2[j]+1 : b2[j+1]], ' ')) AS chunks2
       |  FROM bs),
       |pd AS (SELECT source,
       |    CAST(sum(len(chunks)) AS BIGINT) AS n_chunks,
       |    CAST(sum(len(list_distinct(chunks))) AS BIGINT) AS den,
       |    CAST(sum(len(list_intersect(list_distinct(chunks),
       |      list_distinct(chunks2)))) AS BIGINT) AS ret
       |  FROM c GROUP BY source),
       |dc AS (SELECT source, CAST(count(DISTINCT
       |      ${DedupOps.polyHashSql("chunk")}) AS BIGINT) AS n_distinct
       |  FROM (SELECT source, unnest(chunks) AS chunk FROM c)
       |  GROUP BY source)
       |SELECT source, n_chunks, n_distinct,
       | (100 * (n_chunks - n_distinct)) // n_chunks AS dup_pct,
       | (100 * ret) // den AS retained_pct
       |FROM pd JOIN dc USING (source) ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q137
  /** BPE merge LOOP — q118 scores the first round's candidates; this
    * runs the actual trainer for 3 rounds: argmax pair → merge it
    * everywhere → recount on the re-segmented vocabulary, each round
    * feeding the next. Everything stays on the WORD HISTOGRAM (counts
    * weighted by word frequency), so per-round cost is
    * O(|vocab|·word_len) — corpus-size-independent, the property that
    * makes BPE trainable at 100 TB from one word-count aggregate. The
    * three rounds are UNROLLED DECLARATIVELY: each round's winning
    * pair is a 1-row subplan broadcast into the next round's
    * re-segmentation, so the whole training loop is ONE Catalyst plan
    * with no driver-side collect. Segmentations live as
    * bracket-delimited symbol strings ("[c][a][t]") — `replace` of
    * "[a][b]"→"[ab]" is then token-boundary-safe (a bracketed symbol
    * can never match inside another) and left-to-right non-overlapping
    * in BOTH engines, which is exactly BPE's greedy merge semantics.
    * Ties break on (count desc, pair asc) so every round is
    * deterministic on any engine. */
  private def bpeHist0(spark: SparkSession, dir: String): DataFrame =
    Tables.balanced(spark, dir, "documents")
      .select(explode(words).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("w")) >= 2)
      .select(expr("concat_ws('', transform(split(w, ''), " +
        "c -> concat('[', c, ']')))").as("ws"), col("cnt"))

  private def bpeBestPair(hist: DataFrame): DataFrame = hist
    .select(col("cnt"),
      expr("split(substring(ws, 2, char_length(ws) - 2), " +
        "'\\\\]\\\\[')").as("syms"))
    .select(col("cnt"), expr(
      // Guard fully-merged words: a single-symbol row would make
      // sequence(1, 0) yield the DESCENDING [1, 0] and element_at(syms, 0)
      // throw — emit an empty pair array instead (explode drops the row,
      // matching the oracle's empty range(1, 0)).
      """explode(IF(size(syms) < 2, array(),
        |  transform(sequence(1, size(syms) - 1), i ->
        |    struct(element_at(syms, CAST(i AS INT)) AS a,
        |           element_at(syms, CAST(i + 1 AS INT)) AS b))))
        |""".stripMargin).as("p"))
    .groupBy(col("p.a").as("a"), col("p.b").as("b"))
    .agg(sum(col("cnt")).cast("long").as("cnt"))
    .orderBy(col("cnt").desc, col("a"), col("b"))
    .limit(1)

  private def bpeApplyMerge(hist: DataFrame, best: DataFrame): DataFrame =
    hist.crossJoin(broadcast(best.select(col("a").as("ma"),
        col("b").as("mb"))))
      .select(expr("replace(ws, concat('[', ma, '][', mb, ']'), " +
        "concat('[', ma, mb, ']'))").as("ws"), col("cnt"))

  /** Run `body` against the staged word histogram and the three winning
    * merges (each a 1-row subplan feeding the next round — shared by
    * q137's trainer output and q138's apply pass). The histogram is
    * localCheckpointed so the CORPUS is scanned exactly once no matter
    * how many of the 6 unrolled round-subplans reference it (without
    * the stage, each reference re-runs the word-count aggregate), and
    * it is RELEASED before the small eager result returns — the q101
    * stage-lifecycle discipline: no cache debt survives the query. */
  private def bpeWithMerges(spark: SparkSession, dir: String)(
      body: Seq[DataFrame] => DataFrame): DataFrame = {
    val h0 = bpeHist0(spark, dir).localCheckpoint()
    val b1 = bpeBestPair(h0)
    val h1 = bpeApplyMerge(h0, b1)
    val b2 = bpeBestPair(h1)
    val h2 = bpeApplyMerge(h1, b2)
    val b3 = bpeBestPair(h2)
    val out = body(Seq(b1, b2, b3)).localCheckpoint()
    Checkpoints.release(h0)
    out
  }

  val q137BpeMerges: Q = (spark, dir) =>
    bpeWithMerges(spark, dir) { bests =>
      bests.zipWithIndex.map { case (b, i) =>
        b.select(lit(i + 1).as("round"), col("a").as("left_sym"),
          col("b").as("right_sym"),
          concat(col("a"), col("b")).as("merged"), col("cnt"))
      }.reduce(_ unionByName _)
    }.orderBy(col("round"))

  val q137Oracle: String = {
    def pairsSql(h: String): String =
      s"""SELECT s.a AS a, s.b AS b, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(sy)),
         |      i -> struct_pack(a := sy[i], b := sy[i+1]))) AS s
         |    FROM (SELECT cnt, string_split(ws[2:length(ws)-1], '][')
         |        AS sy FROM $h))
         |  GROUP BY 1, 2""".stripMargin
    def mergeSql(h: String, b: String): String =
      s"""SELECT replace(ws, '[' || $b.a || '][' || $b.b || ']',
         |    '[' || $b.a || $b.b || ']') AS ws, $h.cnt AS cnt
         |  FROM $h, $b""".stripMargin
    s"""WITH wc AS (SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |h0 AS (SELECT array_to_string(list_transform(
       |      range(1, length(w) + 1), i -> '[' || w[i] || ']'), '') AS ws,
       |    cnt FROM wc WHERE length(w) >= 2),
       |p1 AS (${pairsSql("h0")}),
       |b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
       |h1 AS (${mergeSql("h0", "b1")}),
       |p2 AS (${pairsSql("h1")}),
       |b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
       |h2 AS (${mergeSql("h1", "b2")}),
       |p3 AS (${pairsSql("h2")}),
       |b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
       |SELECT round, left_sym, right_sym, merged, cnt FROM (
       |  SELECT 1 AS round, a AS left_sym, b AS right_sym,
       |    a || b AS merged, cnt FROM b1
       |  UNION ALL SELECT 2, a, b, a || b, cnt FROM b2
       |  UNION ALL SELECT 3, a, b, a || b, cnt FROM b3)
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q138
  /** Tokenizer APPLY — the other half of q137's trainer: segment the
    * actual corpus with the 3 learned merges and report the realized
    * compression (chars per token), the number every corpus-budget
    * plan (q91's ⌈len/4⌉ proxy, q110's allocation) ultimately wants
    * measured, not guessed. Each document becomes its bracketed symbol
    * form IN-ROW (merges can never match across the space between
    * bracket groups, so word-internal BPE semantics hold on the whole
    * doc string), the 3 merge pairs arrive as three 1-row broadcasts
    * from the SAME declarative subplans q137 trains (train→apply is
    * one Catalyst DAG, no driver round-trip), and the post-merge token
    * count is just the count of '[' in the result. One source-key
    * aggregate; everything else is map-only string work at any corpus
    * size. */
  val q138BpeApply: Q = (spark, dir) => bpeWithMerges(spark, dir) { bests =>
    val Seq(b1, b2, b3) = bests
    def pat(mdf: DataFrame, n: Int): DataFrame =
      broadcast(mdf.select(
        concat(lit("["), col("a"), lit("]["), col("b"), lit("]"))
          .as(s"p$n"),
        concat(lit("["), col("a"), col("b"), lit("]")).as(s"r$n")))
    Tables.balanced(spark, dir, "documents")
      .select(col("source"),
        expr("concat_ws(' ', transform(split(text, ' '), w -> " +
          "concat_ws('', transform(split(w, ''), " +
          "c -> concat('[', c, ']')))))").as("s"),
        expr("aggregate(transform(split(text, ' '), w -> length(w)), " +
          "0, (a, v) -> a + v)").cast("long").as("nch"))
      .crossJoin(pat(b1, 1)).crossJoin(pat(b2, 2)).crossJoin(pat(b3, 3))
      .select(col("source"),
        expr("replace(replace(replace(s, p1, r1), p2, r2), p3, r3)")
          .as("s2"),
        col("nch"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("char_length(s2) - char_length(replace(s2, '[', ''))"))
          .cast("long").as("n_tokens"),
        sum(col("nch")).as("n_chars"))
      .withColumn("chars_per_token_x100",
        expr("(100 * n_chars) DIV n_tokens"))
      .orderBy(col("source"))
  }

  val q138Oracle: String = {
    def pairsSql(h: String): String =
      s"""SELECT s.a AS a, s.b AS b, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(sy)),
         |      i -> struct_pack(a := sy[i], b := sy[i+1]))) AS s
         |    FROM (SELECT cnt, string_split(ws[2:length(ws)-1], '][')
         |        AS sy FROM $h))
         |  GROUP BY 1, 2""".stripMargin
    def mergeSql(h: String, b: String): String =
      s"""SELECT replace(ws, '[' || $b.a || '][' || $b.b || ']',
         |    '[' || $b.a || $b.b || ']') AS ws, $h.cnt AS cnt
         |  FROM $h, $b""".stripMargin
    s"""WITH wc AS (SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |h0 AS (SELECT array_to_string(list_transform(
       |      range(1, length(w) + 1), i -> '[' || w[i] || ']'), '') AS ws,
       |    cnt FROM wc WHERE length(w) >= 2),
       |p1 AS (${pairsSql("h0")}),
       |b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
       |h1 AS (${mergeSql("h0", "b1")}),
       |p2 AS (${pairsSql("h1")}),
       |b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
       |h2 AS (${mergeSql("h1", "b2")}),
       |p3 AS (${pairsSql("h2")}),
       |b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
       |rep AS (SELECT source,
       |    array_to_string(list_transform(string_split(text, ' '), w ->
       |      array_to_string(list_transform(range(1, length(w) + 1),
       |        i -> '[' || w[i] || ']'), '')), ' ') AS s,
       |    CAST(list_reduce([CAST(0 AS BIGINT)] ||
       |      list_transform(string_split(text, ' '),
       |        w -> CAST(length(w) AS BIGINT)),
       |      (a, v) -> a + v) AS BIGINT) AS nch
       |  FROM documents),
       |ap AS (SELECT source, replace(replace(replace(s,
       |      '[' || b1.a || '][' || b1.b || ']',
       |      '[' || b1.a || b1.b || ']'),
       |      '[' || b2.a || '][' || b2.b || ']',
       |      '[' || b2.a || b2.b || ']'),
       |      '[' || b3.a || '][' || b3.b || ']',
       |      '[' || b3.a || b3.b || ']') AS s2, nch
       |  FROM rep, b1, b2, b3)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(length(s2) - length(replace(s2, '[', ''))) AS BIGINT)
       |   AS n_tokens,
       | CAST(sum(nch) AS BIGINT) AS n_chars,
       | (100 * CAST(sum(nch) AS BIGINT)) //
       |   CAST(sum(length(s2) - length(replace(s2, '[', ''))) AS BIGINT)
       |   AS chars_per_token_x100
       |FROM ap GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q140
  /** Temperature-scaled source mixing — the multinomial sampling rule
    * multilingual/multi-source pretraining uses (mT5/XLM-R style):
    * sampling mass ∝ n^(1/τ) with τ = 2, so small sources are
    * UP-sampled relative to their raw share and no single dump
    * dominates. q64 applies fixed hand-set weights and q110 fills a
    * budget by a cap — this DERIVES the weights from corpus statistics
    * and rounds them to an exact integer allocation: w = ⌊√n⌋
    * (integer-exact in both engines at any count), per-source quota by
    * largest-remainder apportionment (base = ⌊B·w/Σw⌋, the leftover
    * seats go to the largest remainders, remainder-then-source
    * tie-break), so Σ alloc == B EXACTLY — an allocator that "mostly"
    * sums to budget corrupts every downstream mix. Everything happens
    * in windows over the |sources|-row aggregate: free at any corpus
    * size. */
  val q140TemperatureMix: Q = (spark, dir) => {
    val budget = 500
    val tot = Window.partitionBy()
    Tables.balanced(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", expr("CAST(floor(sqrt(n_docs)) AS BIGINT)"))
      .withColumn("wsum", sum(col("w")).over(tot))
      .withColumn("base", expr(s"($budget * w) DIV wsum"))
      .withColumn("rem", expr(s"($budget * w) % wsum"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(tot))
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("n_docs"), col("w"),
        (col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L)).as("alloc"))
      .orderBy(col("source"))
  }

  val q140Oracle: String =
    """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs,
      |    CAST(floor(sqrt(n_docs)) AS BIGINT) AS w FROM s),
      |t AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS wsum FROM w),
      |b AS (SELECT *, (500 * w) // wsum AS base,
      |    (500 * w) % wsum AS rem FROM t),
      |r AS (SELECT *, 500 - CAST(sum(base) OVER () AS BIGINT)
      |      AS leftover,
      |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
      |      AS rk FROM b)
      |SELECT source, n_docs, w,
      | CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |   AS alloc
      |FROM r ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q153
  /** Inverted-index SEGMENT MERGE — the maintenance tier q105's
    * Scaladoc promises ("gap lists concatenate across segments after
    * one boundary fix-up") and every Lucene-style index lives by:
    * postings build PER SEGMENT (disjoint doc-id ranges — here the
    * id-space halves around max/2; in production, arrival batches),
    * and the merged index comes from CONCATENATING each token's
    * segment lists in segment order — segment-local sorts only, never
    * a global re-sort (the flatten of segment-ordered lists IS the
    * merge; the delta-gap re-encode is one in-row fold). The oracle is
    * q105's direct full rebuild, so the hash gate itself proves
    * merge ≡ rebuild — the q139 incremental-maintenance proof shape,
    * applied to retrieval. */
  val q153SegmentMerge: Q = (spark, dir) => {
    val d = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(words)).as("token"))
    val mid = d.agg((max(col("doc_id")) / 2).cast("long").as("mid"))
    val seg = d.crossJoin(broadcast(mid))
      .withColumn("seg", (col("doc_id") > col("mid")).cast("int"))
      .groupBy(col("token"), col("seg"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ps"))
    val merged = seg.groupBy(col("token"))
      .agg(sort_array(collect_list(struct(col("seg"), col("ps"))))
        .as("segs"))
      .withColumn("ps", flatten(expr("transform(segs, s -> s.ps)")))
      .filter(size(col("ps")) >= 5)
    merged.select(col("token"),
        size(col("ps")).cast("long").as("df"),
        element_at(col("ps"), 1).as("first_doc"),
        (element_at(col("ps"), -1) - element_at(col("ps"), 1))
          .as("gap_span"),
        aggregate(
          zip_with(slice(col("ps"), lit(2), size(col("ps")) - 1),
            slice(col("ps"), lit(1), size(col("ps")) - 1), (a, b) => a - b),
          lit(0L), (acc, g) => (acc * 31L + g) % 2147483647L)
          .as("gap_hash"))
      .orderBy(col("token"))
  }

  /** Merge must equal rebuild — q105's direct-build oracle verbatim. */
  val q153Oracle: String = q105Oracle

  // ---------------------------------------------------------------- q168
  /** Deterministic BOOTSTRAP confidence interval for a corpus statistic
    * (mean tokens/doc) — the eval-rigor primitive: a point estimate on
    * a trillion-token corpus means little without an uncertainty band,
    * and classic bootstrap resampling is RNG-bound. This is the Poisson
    * -bootstrap variant with hash-derived weights: resample b draws doc
    * d with multiplicity mix(d,b) % 3 ∈ {0,1,2} (mean 1 — same first
    * two moments a Poisson(1) bootstrap uses), where mix is the engine-
    * agnostic int64 affine hash every sketch here builds on. All 64
    * resample means compute in ONE corpus pass (the 64-way explode
    * partial-aggregates map-side to 64 rows per partition before any
    * shuffle), and the band emits as fixed-point (×10⁶) integer means
    * at ranks 4/32/61 of 64 — p5 / median / p95, wall-to-wall
    * engine-exact with zero float anywhere. */
  val q168BootstrapCi: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val means = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), size(words).cast("long").as("len"))
      .select(col("doc_id"), col("len"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .withColumn("w", expr(
        "((doc_id * 2654435761 + b * 40503) % 2147483647) % 3"))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("len")).cast("long").as("ws"),
        sum(col("w")).cast("long").as("wn"))
      .select(col("b"), expr("(1000000 * ws) DIV wn").as("mean_x1e6"))
    val ranked = means.withColumn("r", row_number().over(
      Window.orderBy(col("mean_x1e6"), col("b"))))
    ranked.filter(col("r").isin(4, 32, 61))
      .select(when(col("r") === 4, "p05").when(col("r") === 32, "p50")
        .otherwise("p95").as("stat"), col("mean_x1e6"))
      .orderBy(col("stat"))
  }

  val q168Oracle: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents),
      |r AS (SELECT b.b, d.doc_id, d.len,
      |    ((d.doc_id * 2654435761 + b.b * 40503) % 2147483647) % 3 AS w
      |  FROM d, (SELECT unnest(range(0, 64)) AS b) b),
      |m AS (SELECT b, (1000000 * CAST(sum(w * len) AS BIGINT))
      |    // CAST(sum(w) AS BIGINT) AS mean_x1e6
      |  FROM r GROUP BY b),
      |k AS (SELECT mean_x1e6, row_number() OVER (
      |    ORDER BY mean_x1e6, b) AS rk FROM m)
      |SELECT CASE rk WHEN 4 THEN 'p05' WHEN 32 THEN 'p50'
      |  ELSE 'p95' END AS stat, mean_x1e6
      |FROM k WHERE rk IN (4, 32, 61) ORDER BY stat""".stripMargin

  // ---------------------------------------------------------------- q169
  /** PADDING-efficiency report — the inference-batching question: fixed
    * batches of 16 sequences pad every member to the batch max, so
    * batch composition decides how many FLOPs are wasted on pad
    * tokens. Two deterministic strategies over the same corpus: arrival
    * order (doc_id) vs length-bucketed (sort by length first — the
    * standard bucketed-batching trick). Per strategy: batch id =
    * (rank-1) DIV 16, padded = 16 × batch max, waste = padded − useful;
    * the report emits both strategies' totals and fixed-point waste
    * rates, and the oracle recomputes both orderings independently —
    * the bucketed row's waste_pct is the measured saving. One scan,
    * two rank windows, one rollup. */
  val q169PaddingReport: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"), size(words).cast("long").as("len"))
    def report(strategy: String, order: Seq[Column]): DataFrame = d
      .withColumn("rk", row_number().over(Window.orderBy(order: _*)))
      .withColumn("batch", expr("(rk - 1) DIV 16"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).cast("long").as("bn"),
        max(col("len")).as("mx"), sum(col("len")).cast("long").as("useful"))
      .agg(count(lit(1)).cast("long").as("n_batches"),
        sum(col("bn") * col("mx")).cast("long").as("padded"),
        sum(col("useful")).cast("long").as("useful"))
      .select(lit(strategy).as("strategy"), col("n_batches"),
        col("padded"), col("useful"),
        expr("(10000 * (padded - useful)) DIV padded").as("waste_pct_x100"))
    report("arrival", Seq(col("doc_id")))
      .unionByName(report("bucketed", Seq(col("len"), col("doc_id"))))
      .orderBy(col("strategy"))
  }

  val q169Oracle: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents),
      |a AS (SELECT len, (row_number() OVER (ORDER BY doc_id) - 1) // 16
      |    AS batch FROM d),
      |ab AS (SELECT batch, CAST(count(*) AS BIGINT) AS bn, max(len) AS mx,
      |    CAST(sum(len) AS BIGINT) AS useful FROM a GROUP BY batch),
      |ar AS (SELECT 'arrival' AS strategy,
      |    CAST(count(*) AS BIGINT) AS n_batches,
      |    CAST(sum(bn * mx) AS BIGINT) AS padded,
      |    CAST(sum(useful) AS BIGINT) AS useful FROM ab),
      |s AS (SELECT len, (row_number() OVER (ORDER BY len, doc_id) - 1)
      |    // 16 AS batch FROM d),
      |sb AS (SELECT batch, CAST(count(*) AS BIGINT) AS bn, max(len) AS mx,
      |    CAST(sum(len) AS BIGINT) AS useful FROM s GROUP BY batch),
      |sr AS (SELECT 'bucketed', CAST(count(*) AS BIGINT),
      |    CAST(sum(bn * mx) AS BIGINT), CAST(sum(useful) AS BIGINT)
      |  FROM sb)
      |SELECT strategy, n_batches, padded, useful,
      | (10000 * (padded - useful)) // padded AS waste_pct_x100
      |FROM (SELECT * FROM ar UNION ALL SELECT * FROM sr)
      |ORDER BY strategy""".stripMargin

  // ---------------------------------------------------------------- q173
  /** Unigram-LM (SentencePiece-style) tokenizer trainer — the OTHER
    * production tokenizer family next to the BPE merge loop
    * (q137/q138): hard EM over a seed substring vocabulary. Seed =
    * every character seen plus the top-40 substrings (length 2–4) of
    * the word histogram by occurrence weight; then two unrolled E/M
    * rounds — the E-step VITERBI-segments each histogram word under the
    * current model, the M-step re-estimates piece frequencies from the
    * chosen segmentations (add-one-smoothed MLE), and pieces the
    * segmentation never uses prune at exactly-zero loss delta (the
    * SentencePiece prune rule at its zero threshold: an unused piece's
    * removal changes no reachable segmentation).
    *
    * Engine-exact by construction: piece log-likelihoods are
    * MITCHELL-approximation fixed-point log2 values — 1024·⌊log2 n⌋
    * plus a linear mantissa interpolation, computed from
    * `length(bin(n))` and one integer divide, strictly monotone in n
    * and bit-identical on any engine — so the Viterbi DP compares only
    * int64s, and score ties break to the LONGEST piece
    * deterministically. The DP itself is an 8-position COLUMN CASCADE
    * (words truncated to 8 chars, pieces ≤ 4 chars — the SentencePiece
    * max-piece-length cap): b_i = best prefix score, bp_i = chosen
    * piece length, then an unrolled backtrack emits the winning pieces
    * — no per-row array DP, every column multiply-referenced so
    * CollapseProject cannot inline the recurrence (the
    * keepMaterialized rule). Scale shape: everything past the one
    * token aggregate runs on the WORD HISTOGRAM
    * (corpus-size-independent per round, the q118/q137 discipline);
    * the model rides as a ≤ ~80-entry broadcast map; per-round cost is
    * O(|hist| · 8 · 4). The DuckDB oracle replays the identical
    * cascade (same generated column text, dialect-translated lookups),
    * so the hash gate proves the full EM — seed, both E-steps, both
    * M-steps, the prune, and the per-round losses carried on every
    * output row. UnigramSpec pins the hard-EM monotone loss decrease. */
  private[ops] val UnigramMiss = s"CAST(${-(1L << 40)} AS BIGINT)"

  private def log2fpSpark(x: String): String =
    s"(1024 * (length(bin($x)) - 1) + (($x * 1024) DIV " +
      s"shiftleft(CAST(1 AS BIGINT), length(bin($x)) - 1)) - 1024)"

  private def log2fpDuck(x: String): String =
    s"(1024 * (length(bin($x)) - 1) + (($x * 1024) // " +
      s"(CAST(1 AS BIGINT) << (length(bin($x)) - 1))) - 1024)"

  /** The shared Viterbi cascade text, as LEVELS of (name, expr) pairs:
    * within a level an expression may reference same-level names only
    * laterally at depth <= 2 (so DuckDB's textual lateral-alias
    * inlining stays linear); across levels only real columns are
    * referenced. Spark flattens the levels into a withColumn chain;
    * the DuckDB oracle materializes one CTE per level — without the
    * level barriers DuckDB inlines the whole recurrence textually and
    * the expansion is 4^8. `look` renders a model-map lookup;
    * `arrFilter` renders the null-dropping array build (the two
    * dialect differences). */
  private[ops] def unigramCascade(look: String => String,
      arrFilter: Seq[String] => String): Seq[Seq[(String, String)]] = {
    val levels = Seq.newBuilder[Seq[(String, String)]]
    levels += Seq("b0" -> "CAST(0 AS BIGINT)")
    for (i <- 1 to 8) {
      val cands = (1 to math.min(4, i)).map(l =>
        s"(b${i - l} + ${look(s"substr(w, ${i - l + 1}, $l)")})")
      val g = if (cands.size == 1) cands.head
        else s"greatest(${cands.mkString(", ")})"
      val arms = (math.min(4, i) to 1 by -1).map(l =>
        s"WHEN b$i = (b${i - l} + ${look(s"substr(w, ${i - l + 1}, $l)")}) " +
          s"THEN $l").mkString(" ")
      levels += Seq(
        s"b$i" -> s"CASE WHEN length(w) >= $i THEN $g END",
        s"bp$i" -> s"CASE WHEN length(w) >= $i THEN (CASE $arms END) END")
    }
    levels += Seq("pos0" -> "length(w)")
    for (j <- 1 to 8) {
      val bpAt = (1 to 8).map(i => s"WHEN pos${j - 1} = $i THEN bp$i")
        .mkString(" ")
      levels += Seq(
        s"q$j" -> s"CASE WHEN pos${j - 1} >= 1 THEN (CASE $bpAt END) END",
        s"pc$j" ->
          s"CASE WHEN pos${j - 1} >= 1 THEN substr(w, pos${j - 1} - q$j + 1, q$j) END",
        s"pos$j" ->
          s"CASE WHEN pos${j - 1} >= 1 THEN pos${j - 1} - q$j ELSE 0 END")
    }
    levels += Seq(
      "vbest" -> s"CASE ${(1 to 8).map(i =>
        s"WHEN length(w) = $i THEN b$i").mkString(" ")} END",
      "pcs" -> arrFilter((1 to 8).map(i => s"pc$i")))
    levels.result()
  }

  /** DuckDB rendering of one E-step: a chain of MATERIALIZED CTEs (one
    * per cascade level) from `base` (must provide w, cnt, m), ending in
    * CTE `out` with (w, cnt, vbest, pcs). */
  private def unigramEstepDuck(prefix: String, base: String,
      out: String): String = {
    val look = (k: String) => s"coalesce(map_extract(m, $k)[1], $UnigramMiss)"
    val arrF = (pcs: Seq[String]) =>
      s"list_filter([${pcs.mkString(", ")}], x -> x IS NOT NULL)"
    val levels = unigramCascade(look, arrF)
    val ctes = Seq.newBuilder[String]
    var prev = base
    levels.zipWithIndex.foreach { case (cols, k) =>
      val name = if (k == levels.size - 1) out else s"$prefix$k"
      val sel = cols.map { case (n, e) => s"$e AS $n" }.mkString(", ")
      // the model map is only consulted by the b/bp levels — drop it at
      // the backtrack boundary so later materialized levels don't carry
      // a per-row map copy
      val star = if (cols.head._1 == "pos0") "* EXCLUDE (m)" else "*"
      ctes += s"$name AS MATERIALIZED (SELECT $star, $sel FROM $prev)"
      prev = name
    }
    ctes.result().mkString(",\n")
  }

  /** Full trainer; returns (top-20 frame with losses, loss1, loss2) —
    * the losses separately so UnigramSpec pins monotonicity without
    * re-running. */
  def unigramLmCore(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.balanced(spark, dir, "documents")
      .select(explode(words).as("tk"))
      .filter(length(col("tk")) >= 1)
      .select(substring(col("tk"), 1, 8).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val pieces = hist.select(col("cnt"), explode(expr(
        "flatten(transform(sequence(1, length(w)), st -> " +
          "transform(sequence(1, least(4, length(w) - st + 1)), " +
          "ln -> substr(w, st, ln))))")).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("f0"))
    val chars = pieces.filter(length(col("p")) === 1)
    val multi = pieces.filter(length(col("p")) > 1)
      .orderBy(col("f0").desc, col("p")).limit(40)
    val vocab0 = chars.unionByName(multi)

    def modelMap(v: DataFrame, fcol: String): Map[String, Long] = {
      val t = v.agg(sum(col(fcol)).cast("long").as("tf"))
      v.crossJoin(broadcast(t))
        .select(col("p"),
          expr(s"${log2fpSpark(fcol)} - ${log2fpSpark("tf")}").as("sc"))
        .agg(map_from_entries(collect_list(struct(col("p"), col("sc"))))
          .as("m"))
        .head.getAs[scala.collection.Map[String, Long]]("m").toMap
    }

    // E-step: the native Viterbi expression (UnigramViterbi) with the
    // model as a driver-held LITERAL map (the q93/q127 literal-probe
    // shape) — bit-identical by construction to the 40-column SQL
    // cascade the DuckDB oracle still replays (all-int64 fixed-point
    // scores, ties to the longest piece; equivalence spec-pinned in
    // UnigramViterbiSpec), but ≤ 40 hash probes per row against a table
    // built once per task instead of ~64 linear MapData scans through
    // 40 chained Projects.
    def estep(model: Map[String, Long]): DataFrame =
      hist.select(col("w"), col("cnt"),
        graft.functions.UnigramViterbi(col("w"), typedLit(model)).as("v"))
        .select(col("w"), col("cnt"),
          col("v").getField("vbest").as("vbest"),
          col("v").getField("pcs").as("pcs"))

    def mstep(seg: DataFrame): DataFrame =
      seg.select(col("cnt"), explode(col("pcs")).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("fu"))

    // Each E-step output feeds THREE consumers (loss, M-step counts,
    // and — via the pruned vocab — the next round), so it is staged
    // eagerly: unstaged, Catalyst re-plans the whole 40-column cascade
    // per consumer (the q165 union-leg trap) and the optimizer's
    // constraint propagation over the chained CASE aliases blows the
    // driver heap. Staging cuts the lineage at histogram size.
    val seg1 = estep(modelMap(vocab0, "f0")).localCheckpoint()
    val loss1 = seg1.agg(sum(expr("cnt * (-vbest)")).cast("long").as("loss1"))
    val f1 = mstep(seg1)
    val vocab1 = vocab0.join(f1, Seq("p"), "left")
      .filter(length(col("p")) === 1 || col("fu").isNotNull)
      .select(col("p"), (coalesce(col("fu"), lit(0L)) + 1).as("f1"))
    val seg2 = estep(modelMap(vocab1, "f1")).localCheckpoint()
    val loss2 = seg2.agg(sum(expr("cnt * (-vbest)")).cast("long").as("loss2"))
    val f2 = mstep(seg2)
    val out = f2.orderBy(col("fu").desc, col("p")).limit(20)
      .crossJoin(broadcast(loss1)).crossJoin(broadcast(loss2))
      .select(col("p").as("piece"), col("fu").cast("long").as("est_cnt"),
        col("loss1"), col("loss2"))
      .orderBy(col("est_cnt").desc, col("piece"))
      .localCheckpoint()
    graft.ops.Checkpoints.release(seg1)
    graft.ops.Checkpoints.release(seg2)
    graft.ops.Checkpoints.release(hist)
    out
  }

  val q173UnigramLm: Q = (spark, dir) => unigramLmCore(spark, dir)

  val q173Oracle: String = {
    s"""WITH toks AS (SELECT substr(tk, 1, 8) AS w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tk FROM documents)
       |  WHERE length(tk) >= 1),
       |hist AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY w),
       |pieces AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS f0 FROM (
       |    SELECT cnt, unnest(flatten(list_transform(
       |      range(1, length(w) + 1), st -> list_transform(
       |        range(1, least(4, length(w) - st + 1) + 1),
       |        ln -> substr(w, st, ln))))) AS p
       |    FROM hist) GROUP BY p),
       |chars AS (SELECT p, f0 FROM pieces WHERE length(p) = 1),
       |multi AS (SELECT p, f0 FROM pieces WHERE length(p) > 1
       |  ORDER BY f0 DESC, p LIMIT 40),
       |vocab0 AS MATERIALIZED (
       |  SELECT * FROM chars UNION ALL SELECT * FROM multi),
       |m0 AS (SELECT map(list(p), list(sc)) AS m FROM (
       |    SELECT p, ${log2fpDuck("f0")} - ${log2fpDuck("tf")} AS sc
       |    FROM vocab0, (SELECT CAST(sum(f0) AS BIGINT) AS tf
       |      FROM vocab0))),
       |e1base AS (SELECT w, cnt, m FROM hist, m0),
       |${unigramEstepDuck("e1c", "e1base", "e1")},
       |f1 AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS fu FROM (
       |    SELECT cnt, unnest(pcs) AS p FROM e1) GROUP BY p),
       |l1 AS (SELECT CAST(sum(cnt * (-vbest)) AS BIGINT) AS loss1 FROM e1),
       |vocab1 AS MATERIALIZED (
       |  SELECT vocab0.p AS p, coalesce(fu, 0) + 1 AS f1
       |  FROM vocab0 LEFT JOIN f1 ON vocab0.p = f1.p
       |  WHERE length(vocab0.p) = 1 OR fu IS NOT NULL),
       |m1 AS (SELECT map(list(p), list(sc)) AS m FROM (
       |    SELECT p, ${log2fpDuck("f1")} - ${log2fpDuck("tf")} AS sc
       |    FROM vocab1, (SELECT CAST(sum(f1) AS BIGINT) AS tf
       |      FROM vocab1))),
       |e2base AS (SELECT w, cnt, m FROM hist, m1),
       |${unigramEstepDuck("e2c", "e2base", "e2")},
       |f2 AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS fu FROM (
       |    SELECT cnt, unnest(pcs) AS p FROM e2) GROUP BY p),
       |l2 AS (SELECT CAST(sum(cnt * (-vbest)) AS BIGINT) AS loss2 FROM e2),
       |top AS (SELECT p, fu FROM f2 ORDER BY fu DESC, p LIMIT 20)
       |SELECT p AS piece, fu AS est_cnt, l1.loss1 AS loss1,
       | l2.loss2 AS loss2
       |FROM top, l1, l2 ORDER BY est_cnt DESC, piece""".stripMargin
  }

  // ---------------------------------------------------------------- q183
  /** Incremental ingest dedup with LAKE-BACKED state — q47's stateful
    * dedup with the state moved from a streaming state store into a
    * VERSIONED TABLE, the shape a 100 TB ingest pipeline actually
    * runs: the seen-set survives restarts, is queryable/time-travelable
    * like any table, and each ingest batch advances it by ONE atomic
    * append commit (costing the batch's novel keys, not the corpus).
    * The corpus arrives as three doc_id-ordered batches; each batch
    * (1) dedups within itself (first id wins, one window), (2) probes
    * the state table's CURRENT snapshot with an equi-join to mark
    * cross-batch dups, (3) appends its novel normalized keys as a
    * carry-forward commit. Snapshot isolation does the bookkeeping:
    * each batch's decision plan pins the file list it probed, so later
    * commits cannot leak into earlier decisions. The oracle restates
    * all of it as one window over the whole corpus (`doc_id <> min
    * doc_id per norm`) — incremental-with-state ≡ global batch, the
    * same invariant q95 proves for the Bloom-gated variant, here with
    * EXACT state and durable commits. */
  val q183LakeIngestDedup: Q = (spark, dir) => {
    import graft.sources.VersionedTable
    val stateDir = Scratch(spark, "q183").path("seen")
    val d = docs(spark, dir).select(col("doc_id"),
      lower(regexp_replace(col("text"), "[^a-zA-Z ]", "")).as("norm"))
    val mx = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val batches = Seq(
      d.filter(col("doc_id") <= mx / 3),
      d.filter(col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3),
      d.filter(col("doc_id") > 2 * mx / 3))
    VersionedTable.commit(spark,
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("norm",
            org.apache.spark.sql.types.StringType)))),
      stateDir, carryForward = false)
    val w = Window.partitionBy(col("norm")).orderBy(col("doc_id"))
    val decisions = batches.map { b =>
      val seen = VersionedTable.read(spark, stateDir)
        .select(col("norm").as("seen_norm"))
      val marked = b
        .withColumn("rn", row_number().over(w))
        .join(seen, col("norm") === col("seen_norm"), "left")
        .withColumn("is_dup",
          col("rn") > 1 || col("seen_norm").isNotNull)
        .localCheckpoint() // pin decisions BEFORE the state advances
      VersionedTable.commit(spark,
        marked.filter(col("rn") === 1 && col("seen_norm").isNull)
          .select(col("norm")),
        stateDir, carryForward = true)
      marked.select(col("doc_id"), col("is_dup"))
    }
    val out = decisions.reduce(_ union _).orderBy(col("doc_id"))
      .localCheckpoint()
    decisions.foreach(graft.ops.Checkpoints.release)
    out
  }

  val q183Oracle: String =
    """WITH n AS (SELECT doc_id,
      |  lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS norm
      | FROM documents)
      |SELECT doc_id,
      |  doc_id <> min(doc_id) OVER (PARTITION BY norm) AS is_dup
      |FROM n ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q200
  /** SHUFFLE-FREE EXACT DEDUP over a partitioned corpus — the q34
    * dedup pass integrated with the lake's declared layout
    * ([[graft.sources.LakePartitioning]]): the corpus lands
    * `PARTITIONED BY (bucket(16, norm))` on its normalization key, so
    * equal texts are CO-LOCATED BY CONSTRUCTION and the dedup
    * `GROUP BY norm` satisfies its clustered distribution straight
    * from the scan's KeyGroupedPartitioning — ZERO exchanges where
    * the plain q34 pass shuffles the whole corpus. At 100 TB this is
    * the difference between an ingest-dedup that moves every byte
    * once per pass and one that moves nothing: the layout is paid
    * once at write (where the data is moving anyway) and every
    * dedup / first-occurrence / group-stats pass after that is
    * map-side. The in-engine gate pins the exchange-free executed
    * plan; results hash-gate against DuckDB's plain dedup (q34's
    * oracle shape). */
  val q200LakeDedupSpj: Q = (spark, dir) => {
    val scratch = Scratch(spark, "q200")
    val cat = scratch.catalog
    val srcView = scratch.name("q200_src")
    docs(spark, dir)
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^a-zA-Z ]", "")).as("norm"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.corpus (doc_id BIGINT, norm STRING) " +
      "PARTITIONED BY (bucket(16, norm))")
    spark.sql(s"INSERT INTO $cat.corpus SELECT * FROM $srcView")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prior = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dedup = spark.sql(
        s"""SELECT min(doc_id) AS keep_id, count(*) AS n_dups,
           |  substring(norm, 1, 40) AS norm_prefix
           |FROM $cat.corpus
           |GROUP BY norm""".stripMargin)
      val rows = dedup.collect()
      val free = !dedup.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).toLowerCase.contains("exchange")
      import spark.implicits._
      rows.toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), free))
        .toDF("keep_id", "n_dups", "norm_prefix", "dedup_zero_shuffle")
        .orderBy(col("keep_id"))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  val q200Oracle: String =
    """WITH g AS (SELECT lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS norm,
      |  min(doc_id) AS keep_id, count(*) AS n_dups
      | FROM documents GROUP BY 1)
      |SELECT keep_id, n_dups, substring(norm, 1, 40) AS norm_prefix,
      |  TRUE AS dedup_zero_shuffle
      |FROM g ORDER BY keep_id""".stripMargin

  // --------------------------------------------------------------- q202
  /** TRUNCATE-PARTITIONED CORPUS — `PARTITIONED BY (truncate(2, norm))`
    * ([[graft.sources.LakePartitioning.TruncateSpec]]), Iceberg's width
    * truncation as the text-corpus layout: every document routes into
    * the file of its normalized key's 2-codepoint PREFIX, so
    * shared-prefix keys co-locate without hashing away their order.
    * Truncate is monotone, so a RANGE filter on the raw key prunes
    * statically to its prefix files (gate: kept < total via
    * [[graft.sources.LakeReadScanBuilder.lastPartitionPrune]]), and —
    * because the scan reports a width-curried single-leaf transform
    * (`truncate_w2(norm)`; Spark's satisfies0 disqualifies any
    * transform with a literal leaf) — the per-prefix GROUP BY runs
    * with ZERO exchanges, gated in-engine like q200. At 100 TB this
    * is the dedup/sort layout that range-scans a shard of the key
    * space and never shuffles for prefix rollups. */
  val q202LakeTruncateCorpus: Q = (spark, dir) => {
    import graft.sources.LakeReadScanBuilder
    val scratch = Scratch(spark, "q202")
    val cat = scratch.catalog
    val srcView = scratch.name("q202_src")
    docs(spark, dir)
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^a-zA-Z ]", "")).as("norm"))
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.corpus (doc_id BIGINT, norm STRING) " +
      "PARTITIONED BY (truncate(2, norm))")
    spark.sql(s"INSERT INTO $cat.corpus SELECT * FROM $srcView")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")
    val prior = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      LakeReadScanBuilder.lastPartitionPrune.set(-1L)
      val agg = spark.sql(
        s"""SELECT substring(norm, 1, 2) AS pfx,
           |  count(*) AS n, min(doc_id) AS first_id
           |FROM $cat.corpus
           |WHERE norm >= 'm'
           |GROUP BY norm""".stripMargin)
      val rows = agg.collect()
      val packed = LakeReadScanBuilder.lastPartitionPrune.get()
      val pruned = packed >= 0 &&
        (packed >> 32).toInt < (packed & 0xffffffffL).toInt
      val free = !agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).toLowerCase.contains("exchange")
      import spark.implicits._
      rows.toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          pruned, free))
        .toDF("pfx", "n", "first_id", "prefix_pruned", "zero_shuffle")
        .orderBy(col("first_id"))
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  val q202Oracle: String =
    """WITH g AS (SELECT lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS norm,
      |  CAST(count(*) AS BIGINT) AS n, min(doc_id) AS first_id
      | FROM documents GROUP BY 1)
      |SELECT substring(norm, 1, 2) AS pfx, n, first_id,
      |  TRUE AS prefix_pruned, TRUE AS zero_shuffle
      |FROM g WHERE norm >= 'm' ORDER BY first_id""".stripMargin

  val keys: ListMap[String, Key] = ListMap(
    "q30_token_count" -> Key(q30TokenCount, q30Oracle),
    "q31_quality_score" -> Key(q31QualityScore, q31Oracle),
    "q32_lang_id" -> Key(q32LangId, q32Oracle),
    "q33_shingles" -> Key(q33Shingles, q33Oracle),
    "q34_normalized_dedup" -> Key(q34NormalizedDedup, q34Oracle),
    "q35_sha_fingerprint" -> Key(q35ShaFingerprint, q35Oracle),
    "q50_winnow_fingerprint" -> Key(q50WinnowFingerprint, q50Oracle),
    "q51_winnow_pairs" -> Key(q51WinnowPairs, q51Oracle),
    "q57_chunk_dedup" -> Key(q57ChunkDedup, q57Oracle),
    "q59_tfidf" -> Key(q59Tfidf, q59Oracle),
    "q64_train_mix" -> Key(q64TrainMix, q64Oracle),
    "q66_repetition" -> Key(q66Repetition, q66Oracle),
    "q71_vocab_oov" -> Key(q71VocabOov, q71Oracle),
    "q72_bm25" -> Key(q72Bm25, q72Oracle),
    "q73_rarity" -> Key(q73Rarity, q73Oracle),
    "q81_quality_strata" -> Key(q81QualityStrata, q81Oracle),
    "q91_bpe_pretokenize" -> Key(q91BpePretokenize, q91Oracle),
    "q97_group_sample" -> Key(q97GroupSample, q97Oracle),
    "q104_split_assign" -> Key(q104SplitAssign, q104Oracle),
    "q105_inverted_index" -> Key(q105InvertedIndex, q105Oracle),
    "q106_sequence_pack" -> Key(q106SequencePack, q106Oracle),
    "q108_curation_pipeline" -> Key(q108CurationPipeline, q108Oracle),
    "q109_bigram_lm" -> Key(q109BigramSurprise, q109Oracle),
    "q110_budget_fill" -> Key(q110BudgetFill, q110Oracle),
    "q112_dsir_weights" -> Key(q112DsirWeights, q112Oracle),
    "q113_chunk_dedup" -> Key(q113ChunkDedup, q113Oracle),
    "q114_boilerplate_cov" -> Key(q114BoilerplateCov, q114Oracle),
    "q118_bpe_pairs" -> Key(q118BpePairs, q118Oracle),
    "q120_quality_classifier" -> Key(q120QualityClassifier, q120Oracle),
    "q121_conjunctive_search" -> Key(q121ConjunctiveSearch, q121Oracle),
    "q122_intradoc_repeat" -> Key(q122IntraDocRepeat, q122Oracle),
    "q127_heavy_hitters" -> Key(q127HeavyHitters, q127Oracle),
    "q128_langid_eval" -> Key(q128LangIdEval, q128Oracle),
    "q134_phrase_search" -> Key(q134PhraseSearch, q134Oracle),
    "q135_cdc_chunks" -> Key(q135CdcChunks, q135Oracle),
    "q137_bpe_merges" -> Key(q137BpeMerges, q137Oracle),
    "q138_bpe_apply" -> Key(q138BpeApply, q138Oracle),
    "q140_temperature_mix" -> Key(q140TemperatureMix, q140Oracle),
    "q153_segment_merge" -> Key(q153SegmentMerge, q153Oracle),
    "q168_bootstrap_ci" -> Key(q168BootstrapCi, q168Oracle),
    "q169_padding_report" -> Key(q169PaddingReport, q169Oracle),
    "q173_unigram_lm" -> Key(q173UnigramLm, q173Oracle),
    "q183_lake_ingest_dedup" -> Key(q183LakeIngestDedup, q183Oracle),
    "q200_lake_dedup_spj" -> Key(q200LakeDedupSpj, q200Oracle),
    "q202_lake_truncate_corpus" -> Key(q202LakeTruncateCorpus, q202Oracle),
  )
}
