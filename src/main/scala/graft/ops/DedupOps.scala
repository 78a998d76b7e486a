package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Near-duplicate detection over `documents` (training-data dedup surface):
  *   - exact dedup            → TextOps.q34/q35 (hash groupBy)
  *   - n-gram Jaccard          → q39 (explode + shingle equi-join)
  *   - MinHash + LSH banding   → q40 (signatures via min-of-hash aggs,
  *                               band-bucket join for candidate pairs)
  *   - SimHash                 → q41 (bitwise majority of token hashes)
  *
  * MinHash/SimHash signatures are built from the engine-agnostic
  * [[graft.functions.PolyHashMod]] string hash + affine mixes mod the
  * Mersenne prime 2^31-1 (the same trick SimilarityOps.lshBucket uses for
  * hyperplanes), so the DuckDB oracle reproduces the exact signatures,
  * bands, candidate pairs, and fingerprints — every dedup query here is
  * hard oracle-checked, not just spec-pinned.
  */
object DedupOps {
  private val words: Column = split(col("text"), " ")

  /** Distinct word 3-gram shingles of `text` — the native single-pass
    * expression (graft.functions.WordShingles); semantics identical to
    * the array_distinct∘transform∘split composition it replaced. */
  def shingles3(c: Column): Column = graft.functions.WordShingles(c, 3)

  // ---------------------------------------------------------------- q39
  /** Max document frequency for a shingle to participate in the q39 pair
    * join. A shingle shared by > K docs contributes K² pair rows while
    * carrying almost no near-dup signal (it's boilerplate); capping bounds
    * the self-join at Σ min(freq,K)² — linear in corpus size at any scale.
    * Mirrored exactly in the DuckDB oracle. */
  val JaccardDfCap = 20

  /** Exact n-gram Jaccard near-dup pairs. Single-pass shape: shingles are
    * computed and exploded ONCE; the per-doc distinct-shingle count rides
    * along as a window over doc_id, then a window over the shingle drops
    * shingles with document frequency > [[JaccardDfCap]] — the s-window's
    * shuffle is the very partitioning the pair self-join needs, so the
    * exchange (and the whole shingle pipeline) is shared by both join
    * sides. `na`/`nb` are the full distinct-shingle counts (taken before
    * the cap), so capping only prunes candidate *discovery*, not the
    * Jaccard denominator. */
  /** q39's pair pipeline without the presentation sort — shared by q52's
    * clustering, which feeds the pairs into further shuffling ops where a
    * sort would be a wasted exchange. */
  def jaccardPairsCore(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsCore(spark, dir, JaccardDfCap)

  /** `dfCap` is the grow-with-N knob: raising it admits more boilerplate
    * shingles into candidate discovery, which can only ADD pairs (the
    * denominator uses pre-cap counts), so pairs(cap) ⊆ pairs(2·cap) with
    * identical Jaccard on the shared pairs — spec-pinned at both
    * operating points. */
  def jaccardPairsCore(spark: SparkSession, dir: String,
      dfCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The word-count pre-filter is equivalent to "has shingles" but cheap
    // in the scan; explode_outer (not explode) prevents the optimizer from
    // inferring a size(<full shingle pipeline>)>0 filter and pushing that
    // expensive expression into the single-partition scan stage.
    val d = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
    // per-doc distinct-shingle count rides along from BEFORE the explode —
    // no doc_id window (saves a whole shuffle+sort); the only wide op
    // before the join is the df-cap window on the shingle, whose shuffle
    // the self-join reuses
    val ex = d.select(col("doc_id"), size(col("sh")).as("n"),
        explode_outer(col("sh")).as("s"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= dfCap)
      .select(col("doc_id"), col("s"), col("n"))
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")))
      .filter(col("inter") >= 2)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  val q39JaccardPairs: Q = (spark, dir) =>
    jaccardPairsCore(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  val q39Oracle: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 3 THEN
      |    list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [] END)) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |shc AS (SELECT doc_id, s FROM sh
      |  QUALIFY count(*) OVER (PARTITION BY s) <= 20),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter,
      | inter * 1.0 / (na.n + nb.n - inter) AS jaccard
      |FROM p JOIN sz na ON na.doc_id = doc_a JOIN sz nb ON nb.doc_id = doc_b
      |WHERE inter >= 2 ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ MinHash
  /** Evaluation guard: wrap an expensive array-producing expression so the
    * projection that CONSUMES the aliased column references it twice.
    * CollapseProject inlines a non-cheap alias referenced once — harmless
    * for scalar pipelines, but catastrophic when the single reference sits
    * inside a higher-order-function lambda: the inlined subtree is then
    * re-evaluated per lambda ELEMENT (per seed / per band), turning a
    * linear pass into seeds× or bands× work. The size() probe is free and
    * forces the column to stay materialized once per row. */
  private def keepMaterialized(arr: Column, expr: Column): Column =
    when(size(arr) >= 0, expr)

  /** The MinHash / band-hash modulus: Mersenne prime 2^31-1. Hash values
    * stay in [0, 2^31), so multiplying by any constant < 2^32 fits int64 —
    * required because DuckDB (the oracle engine) ERRORS on BIGINT overflow
    * instead of wrapping. */
  val HashPrime = 2147483647L

  /** MinHash signature over PRE-HASHED shingles (one long per shingle,
    * from [[graft.functions.PolyHashMod]], values in [0, 2^31)):
    * sig_i = min over shingles of (h * a_i + b_i) mod p — the classic
    * affine permutation family mod a prime, with per-seed constants
    * derived from the seed index. Pure int64 arithmetic, identical in
    * Spark and the DuckDB oracle. Hashing the shingle strings once (see
    * [[lshCandidates]]) and seed-mixing longs is far cheaper per seed
    * than re-hashing strings. One narrow pass, no shuffle. */
  def minhashSignature(shHashes: Column, nHashes: Int): Column =
    keepMaterialized(shHashes,
      transform(sequence(lit(0), lit(nHashes - 1)), seed =>
        array_min(transform(shHashes, h =>
          (h * (lit(2654435761L) + seed.cast("long") * 40503L)
            + seed.cast("long") * 97L + 1L) % HashPrime))))

  /** LSH banding: split the signature into bands of `r` rows; band hash =
    * base-1000003 polynomial fold of the band slice mod 2^31-1 (engine-
    * agnostic, like the signature itself). Docs sharing any band hash are
    * candidate near-dup pairs (then verified with exact Jaccard).
    *
    * Returns distinct `(doc_a, doc_b)` id pairs ONLY — the band self-join
    * and the pair-dedup shuffle carry 3 scalar columns per row, never the
    * shingle arrays. At 100 TB the shuffle payload is O(bands) longs per
    * doc; callers needing shingles re-join them by id afterwards.
    *
    * Precondition: every row's `sh` is non-empty (filter upstream with a
    * CHEAP predicate — e.g. a word-count test on the raw text — NOT
    * size(sh)>0, which pushes the whole shingle pipeline into the scan).
    * Empty-shingle docs would otherwise all share a signature and pair
    * with each other. */
  def lshCandidates(docsWithSh: DataFrame, nHashes: Int, bands: Int): DataFrame = {
    val r = nHashes / bands
    // The explicit repartition on the join keys makes both sides of the
    // self-join share ONE shuffle stage (ReuseExchange): the signature
    // computation — the expensive part — runs exactly once, and the join
    // needs no further exchange. Without it, a broadcast self-join would
    // evaluate the MinHash pipeline twice.
    val banded = docsWithSh
      .withColumn("shh",
        transform(col("sh"), s => graft.functions.PolyHashMod(s)))
      .withColumn("sig", minhashSignature(col("shh"), nHashes))
      .select(col("doc_id"),
        posexplode(keepMaterialized(col("sig"),
          transform(sequence(lit(0), lit(bands - 1)), b =>
            aggregate(slice(col("sig"), b * r + 1, lit(r)), lit(0L),
              (acc, v) => (acc * 1000003L + v) % HashPrime)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      .repartition(col("band"), col("band_hash"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // ---------------------------------------------------------------- q40
  /** MinHash-LSH near-dup candidates with exact-Jaccard verification.
    * 32 hashes, 8 bands of 4 → catches pairs with J ≳ 0.5. Candidate
    * discovery is id-only (see [[lshCandidates]]); shingle arrays are
    * joined back onto the (tiny) deduped pair set for verification.
    * The signature/band pipeline is engine-agnostic integer math, so the
    * DuckDB oracle reproduces the exact candidate set and Jaccard values;
    * planted duplicate behavior is additionally pinned by DedupSpec. */
  val q40MinHashLsh: Q = (spark, dir) => {
    // cheap pushable pre-filter ⟺ "has shingles" (see q39 / lshCandidates)
    val d = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
    val shTbl = d
    lshCandidates(d, nHashes = 32, bands = 8)
      .join(shTbl.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shTbl.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------- q41
  /** SimHash: per token hash, each bit votes ±1; the sign of the vote sum
    * forms the fingerprint bit. Near-dups have small Hamming distance.
    *
    * Token hashes are 62-bit values assembled from two independent affine
    * mixes of [[graft.functions.PolyHashMod]] mod 2^31-1 (low 31 bits ∥
    * high 31 bits) — engine-agnostic, so the DuckDB oracle computes the
    * identical fingerprints. Bits 62-63 of every token hash are 0, so
    * those fingerprint bits are deterministically 0 on both engines. */
  val q41SimHash: Q = (spark, dir) => {
    // one native pass hashes the distinct tokens; the 64-bit vote fold is
    // the native codegen'd SimHash64 expression (single array walk with a
    // local vote table)
    val hashes = transform(array_distinct(words), t => {
      val h = graft.functions.PolyHashMod(t)
      val lo = (h * 2654435761L + 1L) % HashPrime
      val hi = (h * 40503L + 97L) % HashPrime
      lo + hi * 2147483648L
    })
    Tables.balanced(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.SimHash64(hashes).as("simhash"))
      .withColumn("bits_set", bit_count(col("simhash")).cast("long"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- connected components
  /** Exact connected components over an undirected edge list by iterated
    * min-label propagation (hash-min): every round each node adopts the
    * smallest label among itself and its neighbors; the fixpoint assigns
    * every node the minimum id of its component. Each round is one shuffle
    * join + one aggregate over the (sparse) edge list — O(E) work, never
    * materializing anything quadratic — and rounds are bounded by
    * component diameter, which for near-dup clusters (dense cliques knit
    * by shared shingles) is tiny. Lineage is truncated per round so the
    * plan stays constant-size across iterations: pass `checkpointDir` for
    * a RELIABLE checkpoint (HDFS/object-store path — survives executor
    * loss, the cluster-scale mode); default is `localCheckpoint`
    * (executor-memory lineage cut, fine for local mode but an executor
    * loss kills the cut lineage). Convergence is detected by the strictly
    * decreasing label sum — one scalar aggregate, no extra join. For
    * graphs with genuinely deep components, swap the propagation step for
    * alternating large-star/small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — same per-round shape,
    * O(log²) round bound.
    *
    * Input: two id columns (an undirected edge per row). Output:
    * (node, label) for every node that appears in an edge — isolated
    * nodes are their own singleton cluster and are deliberately not
    * enumerated, keeping the output proportional to the duplicate set,
    * not the corpus. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    // Reliable mode writes each round's labels to the given fault-
    // tolerant dir; `checkpoint` is eager by default, which is exactly
    // right here (every round's result is consumed immediately).
    val cut: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    val sym = cut(edges
      .select(col(srcCol).as("node"), col(dstCol).as("nbr"))
      .union(edges.select(col(dstCol).as("node"), col(srcCol).as("nbr"))))
      // reused every round — cut off the pair pipeline
    var labels = cut(sym.groupBy(col("node"))
      .agg(least(col("node"), min(col("nbr"))).as("label")))
    // labels only ever decrease, and strictly iff something changed, so
    // the (exact, integer) decimal sum is a complete convergence signal
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)")))
        .first().getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val cand = sym.join(labels, "node")
        .groupBy(col("nbr").as("node"))
        .agg(min(col("label")).as("cand"))
      val next = cut(labels.join(cand, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("cand"), col("label")))
            .as("label")))
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // `next` is materialized (cut is eager) and no longer references
      // round N−1, so free the superseded state NOW rather than letting
      // it sit in executor storage until GC + ContextCleaner notice —
      // under storage pressure that lag evicts blocks that are still
      // live. (No-op in reliable-checkpoint mode: those RDDs aren't
      // persisted, their state is on the fault-tolerant store.)
      Checkpoints.release(labels)
      labels = next
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // the edge table served its last join; only the labels survive
    Checkpoints.release(sym)
    labels
  }

  // ---------------------------------------------------------------- q52
  /** Near-dup cluster assignment: q39's exact-Jaccard pairs at ≥ 0.6
    * become undirected edges; connected components give each document the
    * minimum doc_id of its duplicate cluster. `is_rep` marks the one
    * document a dedup pipeline would keep per cluster. The full
    * discover→cluster→pick-representative dedup story, end to end. */
  val q52DedupClusters: Q = (spark, dir) => {
    val pairs = jaccardPairsCore(spark, dir)
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"))
    connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        (col("node") === col("label")).as("is_rep"))
      .orderBy(col("doc_id"))
  }

  /** Transitive closure over the same pairs via recursive CTE; min
    * reachable id = cluster id. Set-semantic UNION terminates the
    * recursion. */
  /** Shared oracle prefix: q39 pairs → 0.6-Jaccard edges → transitive
    * closure → per-doc min-reachable-id cluster label (CTE `lab`). */
  private val ccLabelSql: String =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 3 THEN
      |    list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [] END)) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |shc AS (SELECT doc_id, s FROM sh
      |  QUALIFY count(*) OVER (PARTITION BY s) <= 20),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pr AS (SELECT doc_a, doc_b FROM p
      |  JOIN sz na ON na.doc_id = doc_a JOIN sz nb ON nb.doc_id = doc_b
      |  WHERE inter >= 2
      |    AND inter * 1.0 / (na.n + nb.n - inter) >= 0.6),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
      |  UNION ALL SELECT doc_b, doc_a FROM pr),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |  FROM reach GROUP BY a)""".stripMargin

  val q52Oracle: String =
    s"""WITH RECURSIVE $ccLabelSql
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_rep
       |FROM lab ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Cluster-representative selection by QUALITY: the decision step that
    * turns q52's cluster labels into a kept/removed verdict. Real
    * pipelines keep the best copy per near-dup cluster (longest text
    * here, standing in for a quality score), not the arbitrary min-id —
    * ties break to the lower doc_id so the choice is deterministic.
    * Output: per cluster, its size and the kept doc.
    *
    * Scale shape: cluster labels join doc features on doc_id (labels
    * cover only clustered docs — a small fraction of the corpus); the
    * argmax-per-cluster is a row_number window whose cluster_id
    * partitioning is reused by the immediately following rollup, so the
    * pick and the count share one exchange. */
  val q75ClusterKeep: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val labels = q52DedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val feats = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels.join(feats, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        min(when(col("rn") === 1, col("n_chars"))).as("keep_chars"))
      .orderBy(col("cluster_id"))
  }

  val q75Oracle: String =
    s"""WITH RECURSIVE $ccLabelSql,
       |q AS (SELECT lab.doc_id, cluster_id, n_chars
       |  FROM lab JOIN documents USING (doc_id)),
       |r AS (SELECT doc_id, cluster_id, n_chars, row_number() OVER (
       |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM q)
       |SELECT cluster_id, count(*) AS n_docs,
       | CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keep_id,
       | CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_chars
       |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** DuckDB rendering of [[graft.functions.PolyHashMod]] over a string
    * lambda variable `v`. */
  private[ops] def polyHashSql(v: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, length($v)+1), " +
      s"i -> CAST(unicode($v[i]) AS BIGINT)), (a,c) -> (a*31+c) % 2147483647)"

  /** Full oracle replication of the MinHash-LSH pipeline: identical
    * signatures (affine mixes mod 2^31-1 over PolyHashMod shingle
    * hashes), identical band hashes, identical candidate pairs, exact
    * Jaccard verification. */
  val q40Oracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs FROM d),
       |hh AS (SELECT doc_id, shs, list_transform(shs, s ->
       |    ${polyHashSql("s")}) AS shh FROM sh),
       |sg AS (SELECT doc_id, list_transform(range(0, 32), i ->
       |    list_min(list_transform(shh, h ->
       |      (h * (2654435761 + i*40503) + i*97 + 1) % 2147483647))) AS sig
       |  FROM hh),
       |bd AS (SELECT doc_id, b.band,
       |    list_reduce([CAST(0 AS BIGINT)] || sig[b.band*4+1 : b.band*4+4],
       |      (a,v) -> (a*1000003+v) % 2147483647) AS band_hash
       |  FROM sg CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bd a JOIN bd b2 ON a.band = b2.band
       |    AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id)
       |SELECT doc_a, doc_b,
       |  round(len(list_intersect(sa.shs, sb.shs)) * 1.0 /
       |    len(list_distinct(sa.shs || sb.shs)), 4) AS jaccard
       |FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
       |  JOIN sh sb ON sb.doc_id = cand.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Candidate verification by exact edit distance: q40's LSH band pairs
    * re-scored with Levenshtein distance and a normalized similarity.
    * The O(len²) DP runs ONLY on the LSH-bounded candidate set (Σ
    * band-bucket² pairs), never corpus² — the standard candidate-then-
    * verify shape for fuzzy dedup; `levenshtein` is a codegen'd built-in
    * on both engines, so the oracle is exact. `edit_sim` is computed as
    * (maxlen − dist) · 1/maxlen with an integer numerator — the same
    * int/int IEEE division both engines agree on bit-for-bit. */
  val q68EditVerify: Q = (spark, dir) => {
    val d = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val dist = levenshtein(col("ta"), col("tb")).cast("long")
    val maxLen = greatest(length(col("ta")), length(col("tb"))).cast("long")
    lshCandidates(d, nHashes = 32, bands = 8)
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        dist.as("edit_dist"),
        ((maxLen - dist).cast("double") / maxLen).as("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q68Oracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs FROM d),
       |hh AS (SELECT doc_id, shs, list_transform(shs, s ->
       |    ${polyHashSql("s")}) AS shh FROM sh),
       |sg AS (SELECT doc_id, list_transform(range(0, 32), i ->
       |    list_min(list_transform(shh, h ->
       |      (h * (2654435761 + i*40503) + i*97 + 1) % 2147483647))) AS sig
       |  FROM hh),
       |bd AS (SELECT doc_id, b.band,
       |    list_reduce([CAST(0 AS BIGINT)] || sig[b.band*4+1 : b.band*4+4],
       |      (a,v) -> (a*1000003+v) % 2147483647) AS band_hash
       |  FROM sg CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bd a JOIN bd b2 ON a.band = b2.band
       |    AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
       |  (greatest(length(da.text), length(db.text)) -
       |     levenshtein(da.text, db.text)) * 1.0 /
       |    greatest(length(da.text), length(db.text)) AS edit_sim
       |FROM cand JOIN documents da ON da.doc_id = cand.doc_a
       |  JOIN documents db ON db.doc_id = cand.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Benchmark decontamination (the GPT-3/PaLM n-gram overlap check):
    * flag training documents sharing any word 3-gram with a held-out
    * eval set, reporting hit counts and the contaminated fraction of
    * each doc's shingles. Eval set = doc_id ≡ 0 (mod 97), a deterministic
    * pseudo-benchmark. The check is an id+shingle equi-join against the
    * DISTINCT eval shingle set — shuffle payload is one string key per
    * (doc, shingle), never a pair join, so at 100 TB it costs one
    * hash-partitioned pass over each corpus (and the eval side, a real
    * benchmark suite, is broadcast-sized in practice). */
  val q70Decontaminate: Q = (spark, dir) => {
    val sh = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("text"))).as("s"))
    val eval_ = sh.filter(col("doc_id") % 97 === 0)
      .select(col("s")).distinct().withColumn("hit", lit(1L))
    // ONE pass over the training shingles: the left join marks eval
    // hits, a single per-doc aggregate yields both counts (aggregating
    // train twice would recompute and reshuffle the explode)
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(eval_, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .filter(col("n_hit") >= 1)
      .select(col("doc_id"), col("n_hit").cast("long").as("n_hit"),
        col("n_sh").cast("long").as("n_sh"),
        (col("n_hit").cast("double") / col("n_sh")).as("contamination"))
      .orderBy(col("doc_id"))
  }

  val q70Oracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM d),
      |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
      |hit AS (SELECT doc_id, count(*) AS n_hit FROM tr JOIN ev USING (s)
      |  GROUP BY doc_id),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY doc_id)
      |SELECT hit.doc_id, CAST(n_hit AS BIGINT) AS n_hit,
      | CAST(n_sh AS BIGINT) AS n_sh,
      | n_hit * 1.0 / n_sh AS contamination
      |FROM hit JOIN sz USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Oracle replication of the SimHash fingerprint: identical 62-bit
    * token hashes, identical bit votes, identical fingerprints. */
  val q41Oracle: String =
    s"""WITH tok AS (SELECT doc_id,
       |    list_distinct(string_split(text, ' ')) AS ts FROM documents),
       |ph AS (SELECT doc_id, list_transform(ts, t ->
       |    ${polyHashSql("t")}) AS phs FROM tok),
       |hs AS (SELECT doc_id, list_transform(phs, h ->
       |    (h*2654435761 + 1) % 2147483647 +
       |    ((h*40503 + 97) % 2147483647) * 2147483648) AS ths FROM ph),
       |fp AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 62), b ->
       |    CASE WHEN list_sum(list_transform(ths, h ->
       |        CAST(((h >> b) & 1) * 2 - 1 AS BIGINT))) > 0
       |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
       |  FROM hs)
       |SELECT doc_id, simhash, CAST(bit_count(simhash) AS BIGINT) AS bits_set
       |FROM fp ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Corpus-overlap matrix: pairwise shingle-Jaccard between SOURCES
    * (the "how much does source A duplicate source B" analysis that
    * decides whether two crawls/dumps can both enter a training mix).
    * Each source's profile is its distinct 3-shingle set; pair
    * intersections come from ONE self-join on the shingle whose fan-out
    * is bounded by (sources-per-shingle choose 2) ≤ |sources|² per
    * shingle — never by corpus size; per-source set sizes ride in as a
    * broadcast. The Jaccard ratio is an int/int IEEE division, exact on
    * any engine. */
  val q78SourceOverlap: Q = (spark, dir) => {
    val ss = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("source"), explode(shingles3(col("text"))).as("s"))
      .distinct()
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = ss.as("a").join(ss.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n", "na")), "src_a")
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n", "nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("inter") >= 5)
      .orderBy(col("src_a"), col("src_b"))
  }

  val q78Oracle: String =
    """WITH sh AS (SELECT DISTINCT source,
      |  unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, inter,
      | inter * 1.0 / (na.n + nb.n - inter) AS jaccard
      |FROM p JOIN sz na ON na.source = src_a JOIN sz nb ON nb.source = src_b
      |WHERE inter >= 5 ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- q85
  /** MinHash estimator quality: for q40's LSH candidate pairs, the
    * signature-agreement Jaccard ESTIMATE (matching positions / 32 —
    * what a 100 TB pipeline actually thresholds on, since signatures are
    * 32 longs while shingle sets are unbounded) next to the exact
    * Jaccard. The per-pair estimate error is the nHashes-vs-recall
    * tuning signal, exactly like q74 is for IVF. Signatures join onto
    * the (tiny) candidate set by id; the corpus-wide pass stays the one
    * shared signature stage from [[lshCandidates]] (ReuseExchange).
    * matches/32.0 and inter/union are int-over-int IEEE divisions —
    * bit-identical across engines, no rounding needed. */
  val q85MinhashEstimate: Q = (spark, dir) => {
    val d = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
    val withSig = d
      .withColumn("shh",
        transform(col("sh"), s => graft.functions.PolyHashMod(s)))
      .select(col("doc_id"), col("sh"),
        minhashSignature(col("shh"), 32).as("sig"))
    val matches = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
      x => x)).cast("long")
    lshCandidates(d, nHashes = 32, bands = 8)
      .join(withSig.select(col("doc_id").as("doc_a"),
        col("sh").as("sh_a"), col("sig").as("sig_a")), "doc_a")
      .join(withSig.select(col("doc_id").as("doc_b"),
        col("sh").as("sh_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        matches.as("sig_matches"),
        (matches.cast("double") / 32).as("est_jaccard"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q85Oracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs FROM d),
       |hh AS (SELECT doc_id, shs, list_transform(shs, s ->
       |    ${polyHashSql("s")}) AS shh FROM sh),
       |sg AS (SELECT doc_id, shs, list_transform(range(0, 32), i ->
       |    list_min(list_transform(shh, h ->
       |      (h * (2654435761 + i*40503) + i*97 + 1) % 2147483647))) AS sig
       |  FROM hh),
       |bd AS (SELECT doc_id, b.band,
       |    list_reduce([CAST(0 AS BIGINT)] || sig[b.band*4+1 : b.band*4+4],
       |      (a,v) -> (a*1000003+v) % 2147483647) AS band_hash
       |  FROM sg CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bd a JOIN bd b2 ON a.band = b2.band
       |    AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id),
       |m AS (SELECT doc_a, doc_b,
       |    len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i]))
       |      AS sig_matches,
       |    len(list_intersect(sa.shs, sb.shs)) AS inter,
       |    len(list_distinct(sa.shs || sb.shs)) AS un
       |  FROM cand JOIN sg sa ON sa.doc_id = cand.doc_a
       |    JOIN sg sb ON sb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, CAST(sig_matches AS BIGINT) AS sig_matches,
       |  sig_matches / 32.0 AS est_jaccard,
       |  inter * 1.0 / un AS jaccard
       |FROM m ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Incremental batch-vs-corpus dedup with a Bloom pre-filter — the
    * new-crawl-snapshot shape: the standing corpus (doc_id % 10 != 0)
    * publishes ONE ~32 KB Bloom sketch of its 10-word-chunk hashes (q57's
    * chunk convention, PolyHashMod keys); the incoming batch (doc_id %
    * 10 = 0) probes that broadcast sketch MAP-SIDE, so only the
    * bloom-passed candidate chunks enter the exact-verify equi-join
    * against the corpus. At 100 TB this is the difference between
    * shuffling every new chunk against the corpus and shuffling only the
    * ~dup-rate+FP fraction; the sketch is built in one map-side-combined
    * pass (set-bit updates are idempotent, so no pre-distinct either).
    *
    * Per batch doc: total chunks, bloom-passed candidates, exact
    * verified dups, and the candidate excess (chunk-level Bloom false
    * positives + hash-equal-string-different survivors, both resolved by
    * the string-equality verify join). The affine probe positions let
    * the DuckDB oracle reproduce candidate counts EXACTLY — false
    * positives included — and n_fp >= 0 doubles as the no-false-negative
    * pin: a missed dup would drive it negative. */
  val q95IncrementalDedup: Q = (spark, dir) => {
    import graft.functions.{BloomSketch, PolyHashMod}
    val chunkW = 10
    val m = 1 << 18
    def chunksOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"), posexplode(
        when(size(col("ws")) < chunkW, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), (size(col("ws")) / chunkW).cast("int") - 1),
            i => array_join(slice(col("ws"), i * chunkW + 1, lit(chunkW)), " ")))))
      .select(col("doc_id"), col("col").as("chunk"))
    val docs = Tables.balanced(spark, dir, "documents")
    val corpus = chunksOf(docs.filter(col("doc_id") % 10 =!= 0))
      .select(col("chunk"))
    // Driver-held sketch probed as a LITERAL (the q93/q174 shape): the
    // old crossJoin(broadcast(bf)) attached 32 KB as a column and every
    // probe paid a per-row getBinary copy of it.
    val bloomBytes = corpus.agg(
      BloomSketch.build(PolyHashMod(col("chunk")), m, 7).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val batch = chunksOf(docs.filter(col("doc_id") % 10 === 0))
    val candidates = batch
      .withColumn("cand",
        BloomSketch.mightContain(lit(bloomBytes), PolyHashMod(col("chunk"))))
    val verified = candidates.filter(col("cand"))
      .join(corpus.distinct().withColumn("hit", lit(true)),
        Seq("chunk"), "left")
      .withColumn("in_corpus", coalesce(col("hit"), lit(false)))
      .drop("hit")
    candidates.filter(!col("cand"))
      .withColumn("in_corpus", lit(false))
      .unionByName(verified)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cand"), 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("in_corpus"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("cand") && !col("in_corpus"), 1L).otherwise(0L))
          .as("n_fp"))
      .orderBy(col("doc_id"))
  }

  val q95Oracle: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c0 AS (SELECT doc_id, ws, unnest(range(0, len(ws)//10)) AS pos FROM w),
       |ch AS (SELECT doc_id,
       |  array_to_string(list_slice(ws, pos*10+1, pos*10+10), ' ') AS chunk
       | FROM c0),
       |corp AS (SELECT DISTINCT chunk,
       |    ${polyHashSql("chunk")} AS h FROM ch WHERE doc_id % 10 != 0),
       |pos AS (SELECT DISTINCT
       |    (((h % 2147483647) * 2654435761 + 1) % 2147483647
       |     + i.i * (((h % 2147483647) * 40503 + 97) % 2147483647))
       |      % 262144 AS p
       |  FROM corp, range(7) i(i)),
       |bat AS (SELECT doc_id, chunk, ${polyHashSql("chunk")} AS h
       |  FROM ch WHERE doc_id % 10 = 0),
       |bk AS (SELECT DISTINCT h FROM bat),
       |pr AS (SELECT h,
       |    ((h % 2147483647) * 2654435761 + 1) % 2147483647 AS h1,
       |    ((h % 2147483647) * 40503 + 97) % 2147483647 AS h2 FROM bk),
       |probes AS (SELECT h, (h1 + i.i * h2) % 262144 AS p
       |  FROM pr, range(7) i(i)),
       |hits AS (SELECT probes.h, count(*) AS nh FROM probes
       |  JOIN pos ON pos.p = probes.p GROUP BY probes.h),
       |mem AS (SELECT bk.h, coalesce(nh, 0) = 7 AS inb
       |  FROM bk LEFT JOIN hits ON hits.h = bk.h),
       |v AS (SELECT bat.doc_id, mem.inb,
       |    bat.chunk IN (SELECT chunk FROM corp) AS dup
       |  FROM bat JOIN mem ON mem.h = bat.h)
       |SELECT doc_id, count(*) AS n_chunks,
       | CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       | CAST(sum(CASE WHEN inb AND dup THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_dup,
       | CAST(sum(CASE WHEN inb AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_fp
       |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Prefix-filtered set-similarity join (the PPJoin family's core
    * filter) — the THRESHOLD-AWARE and LOSSLESS alternative to q39's
    * df-cap heuristic: for Jaccard >= 0.6, two shingle sets must share
    * at least one token among each set's |d| − ⌈0.6·|d|⌉ + 1 RAREST
    * tokens (globally df-ascending order) — if they don't, the overlap
    * bound ⌈t/(1+t)·(|a|+|b|)⌉ is unreachable, so pruning non-sharers
    * loses nothing (spec-pinned against a brute-force all-pairs sweep).
    * The position filter (PPJoin's second bound) then drops prefix-
    * sharers whose best-case overlap can't reach ⌈3(n_a+n_b)/8⌉.
    * Candidates collapse from O(all pairs) to rare-token sharers with
    * feasible overlap: 300k → 69k verify pairs at sf0.1.
    *
    * Scale shape: df is one token-key aggregate; per-doc rank and size
    * share ONE doc-key shuffle (two window specs over the same
    * partitioning); the candidate self-join shuffles only the ~40%
    * prefix fraction of the exploded set, keyed on rare tokens whose
    * fan-out the prefix rule itself bounds; exact verification touches
    * candidates only. Ceil in pure integers ((3n+4) DIV 5) — engine-
    * agnostic. */
  val q101PrefixJoin: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    // The shingle-set table feeds FIVE distinct subplans (explode, two
    // verify sides, and the windows between) whose exchanges differ, so
    // ReuseExchange cannot share the expensive shingle pass — persist it
    // once, exactly what a real pipeline does by staging the shingle
    // table before a similarity join (vs q76, where the repeated subplan
    // is identical and ReuseExchange makes a checkpoint SLOWER).
    val d = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), shingles3(col("text")).as("shs"))
      .persist()
    // one explode; df and the per-doc prefix rank ride two window specs
    // (token partition, then doc partition) over the SAME pipeline
    // instead of a groupBy+rejoin that would recompute the explode
    val prefix = d.select(col("doc_id"), explode(col("shs")).as("token"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("token"))))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("token"))))
      .filter(expr("rk <= n - ((3*n + 4) DIV 5) + 1"))
      .select(col("doc_id"), col("token"), col("rk"), col("n"))
    // PPJoin POSITION filter on top of the prefix filter: a pair's
    // overlap is bounded by 1 + min(remaining tokens past the match) in
    // each set's global sort order, and J >= 0.6 needs overlap >=
    // ⌈(t/(1+t))·(n_a+n_b)⌉ = ⌈3(n_a+n_b)/8⌉ — for any qualifying pair
    // the FIRST globally-shared token sits in both prefixes (the prefix
    // theorem) and carries a bound >= that minimum, so requiring
    // max(bound) >= it prunes nothing real (empirically 300k -> 69k
    // candidates at sf0.1). The rollup replaces the bare distinct():
    // same pair-key exchange, strictly more pruning.
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(max(lit(1) + least(col("a.n") - col("a.rk"),
          col("b.n") - col("b.rk"))).as("ub"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
      .filter(expr("ub >= (3*(na + nb) + 7) DIV 8"))
      .select(col("doc_a"), col("doc_b"))
    val verified = cand
      .join(d.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("n_union",
        size(col("sa")) + size(col("sb")) - col("n_inter"))
      .filter(col("n_inter") * 10 >= col("n_union") * 6)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter") / col("n_union")).as("jaccard"))
    // The staged table must be RELEASED, not left in executor storage:
    // the builder returns a lazy plan, so deterministic release requires
    // running the join here — localCheckpoint the (small: surviving
    // near-dup pairs only) verified set eagerly, then unpersist the
    // shingle stage before handing the result back. Downstream sees a
    // lineage-free frame; executor storage holds only the result.
    val out = verified.localCheckpoint()
    d.unpersist(blocking = false)
    out.orderBy(col("doc_a"), col("doc_b"))
  }

  val q101Oracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |d AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs FROM w),
      |t AS (SELECT doc_id, unnest(shs) AS token FROM d),
      |f AS (SELECT token, count(*) AS df FROM t GROUP BY 1),
      |r AS (SELECT doc_id, token,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY df, token) AS rk,
      |    count(*) OVER (PARTITION BY doc_id) AS n
      |  FROM t JOIN f USING (token)),
      |p AS (SELECT doc_id, token, rk, n FROM r
      |  WHERE rk <= n - ((3*n + 4)//5) + 1),
      |c0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    max(1 + least(a.n - a.rk, b.n - b.rk)) AS ub,
      |    min(a.n) AS na, min(b.n) AS nb
      |  FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |cand AS (SELECT doc_a, doc_b FROM c0
      |  WHERE ub >= (3*(na + nb) + 7)//8),
      |v AS (SELECT doc_a, doc_b,
      |    len(list_intersect(da.shs, db.shs)) AS n_inter,
      |    len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs))
      |      AS n_union
      |  FROM cand JOIN d da ON da.doc_id = doc_a
      |    JOIN d db ON db.doc_id = doc_b)
      |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
      | n_inter * 1.0 / n_union AS jaccard
      |FROM v WHERE n_inter * 10 >= n_union * 6
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q157
  /** Minimum cross-document repeated-span length, in tokens. */
  val ExactSubstrK = 8

  /** Cross-document EXACT repeated-substring dedup (ExactSubstr) — the
    * suffix-array pass of "Deduplicating Training Data Makes Language
    * Models Better" re-expressed relationally: find every span of >= K
    * consecutive tokens that occurs verbatim in two or more DIFFERENT
    * documents, and report each affected document's duplicated-token
    * coverage (union of all its duplicated spans). Complements
    * q34/q57/q113 (whole-doc / fixed-chunk / CDC-chunk duplicates) and
    * q122 (intra-doc repeats only) with the corpus-level overlapping-
    * span mode.
    *
    * Key identity: a maximal repeated span of length L >= K contains
    * exactly L-K+1 duplicated K-token windows whose union is the full
    * span — so anchoring on K-token windows and unioning their
    * intervals reproduces exact span coverage with no suffix array.
    *
    * Scale shape (the bounded-candidate discipline): the corpus-wide
    * pass shuffles ONLY (window-hash, doc_id, pos) — 24 bytes/anchor,
    * never a token string; the K-token window hashes are built IN-ROW
    * (each token PolyHashMod-hashed once, windows combined by Horner
    * mod 2^31-1). Anchors whose hash is shared by >= 2 docs form the
    * candidate set; only THOSE anchors ever materialize their token
    * string, for exact (collision-proof) verification via a min/max
    * doc window per gram. Candidate work is bounded by the true
    * duplicate volume plus hash collisions — never corpus² — and the
    * verification step makes the final answer independent of the hash
    * function (a collision is dropped by the gram check; the DuckDB
    * oracle recomputes the whole thing gram-first, so the hash-anchored
    * plan is gated against the semantic ground truth). Interval union
    * per doc is one ordered window: consecutive anchors i, j overlap
    * iff j - i < K, so covered = Σ min(K, next_pos - pos). */
  private[ops] def exactSubstrToks(spark: SparkSession, dir: String,
      k: Int = ExactSubstrK): DataFrame =
    Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("doc_id"), split(col("text"), " ").as("t"))

  /** The hash-anchored candidate set: (h, doc_id, pos) for every anchor
    * whose K-token window hash is shared by >= 2 distinct documents.
    * Exposed so the bounded-candidate claim is spec-pinned (candidates
    * == true duplicated anchors + collisions, never corpus²). */
  private[ops] def exactSubstrCandidates(toks: DataFrame,
      K: Int = ExactSubstrK): DataFrame = {
    val anch = exactSubstrAnchors(toks, K)
    val dupH = anch.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    // no broadcast() hint: the duplicated-hash set is usually tiny
    // (AQE re-plans this to a broadcast join at runtime) but CAN grow
    // with corpus redundancy, and a forced broadcast would OOM there.
    anch.join(dupH, "h")
  }

  /** Exact-verified cross-doc duplicated anchors: (doc_id, pos, n,
    * gram) for every anchor whose K-token gram occurs in >= 2 distinct
    * documents. Shared by q157 (coverage report) and q161 (span
    * removal). */
  private[ops] def exactSubstrVerified(toks: DataFrame,
      K: Int = ExactSubstrK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = exactSubstrCandidates(toks, K)
    val withGram = cand.join(toks, "doc_id")
      .select(col("doc_id"), col("pos"), size(col("t")).as("n"),
        concat_ws(" ", slice(col("t"), col("pos") + 1, lit(K)))
          .as("gram"))
    val wg = Window.partitionBy(col("gram"))
    withGram
      .withColumn("d1", min(col("doc_id")).over(wg))
      .withColumn("d2", max(col("doc_id")).over(wg))
      .filter(col("d1") =!= col("d2"))
      .select(col("doc_id"), col("pos"), col("n"), col("gram"))
  }

  val q157ExactSubstr: Q = (spark, dir) => exactSubstrCoverage(spark, dir)

  /** q157's body with the span length exposed — the grow-with-N knob:
    * a 2K-window duplicate implies every K-window inside it is also a
    * duplicate, so coverage at 2K is a SUBSET of coverage at K per doc
    * (spec-pinned at K=8 vs 16). */
  def exactSubstrCoverage(spark: SparkSession, dir: String,
      K: Int = ExactSubstrK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = exactSubstrToks(spark, dir, K)
    val ver = exactSubstrVerified(toks, K)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    ver
      .withColumn("np", lead(col("pos"), 1).over(wd))
      .select(col("doc_id"), col("n"),
        when(col("np").isNull, lit(K))
          .otherwise(least(lit(K), col("np") - col("pos"))).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_tokens"),
        sum(col("c")).cast("long").as("dup_tokens"))
      .withColumn("dup_ratio",
        col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Gram-first semantic recomputation — deliberately does NOT mirror
    * the engine's hash-anchored candidate pruning, so the hash gate
    * proves the pruned plan equals the ground-truth span coverage. */
  val q157Oracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |an AS (SELECT doc_id, len(t) AS n,
      |    unnest(range(0, len(t) - 7)) AS pos,
      |    unnest(list_transform(range(0, len(t) - 7),
      |      i -> array_to_string(t[i+1:i+8], ' '))) AS gram
      |  FROM d),
      |v AS (SELECT doc_id, n, pos,
      |    min(doc_id) OVER (PARTITION BY gram) AS d1,
      |    max(doc_id) OVER (PARTITION BY gram) AS d2 FROM an),
      |cov AS (SELECT doc_id, n, pos,
      |    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS np
      |  FROM v WHERE d1 <> d2)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
      | CAST(SUM(CASE WHEN np IS NULL THEN 8
      |   ELSE LEAST(8, np - pos) END) AS BIGINT) AS dup_tokens,
      | CAST(SUM(CASE WHEN np IS NULL THEN 8
      |   ELSE LEAST(8, np - pos) END) AS DOUBLE)
      |   / CAST(max(n) AS DOUBLE) AS dup_ratio
      |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q161
  /** ExactSubstr span REMOVAL — the operational half of q157's report:
    * for every cross-doc duplicated K-token gram, the FIRST global
    * occurrence (lowest doc_id, then lowest pos — the deterministic
    * keep-first rule, same spirit as q52's keep-lowest-id) is the
    * keeper; every other occurrence is cut. A token is removed iff
    * some REMOVED anchor's window covers it (overlap with a keeper
    * window doesn't save it — the paper's tool cuts all duplicated
    * bytes except the first occurrence), so removed coverage is the
    * same interval-union window as q157 restricted to removed anchors.
    * Output: per affected doc, total / removed / retained token
    * counts. Scale shape identical to q157 (the keeper argmin is one
    * more window over the gram partition the verification already
    * shuffled on). */
  val q161ExactSubstrRemove: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val K = ExactSubstrK
    val toks = exactSubstrToks(spark, dir)
    val ver = exactSubstrVerified(toks)
    val wk = Window.partitionBy(col("gram"))
      .orderBy(col("doc_id"), col("pos"))
    val removed = ver
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") > 1) // keeper (first global occurrence) survives
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    removed
      // distinct: two grams can anchor the same (doc, pos)? no — one
      // gram per pos — but the same pos can only appear once here
      .withColumn("np", lead(col("pos"), 1).over(wd))
      .select(col("doc_id"), col("n"),
        when(col("np").isNull, lit(K))
          .otherwise(least(lit(K), col("np") - col("pos"))).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_tokens"),
        sum(col("c")).cast("long").as("n_removed"))
      .withColumn("n_retained", col("n_tokens") - col("n_removed"))
      .orderBy(col("doc_id"))
  }

  val q161Oracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |an AS (SELECT doc_id, len(t) AS n,
      |    unnest(range(0, len(t) - 7)) AS pos,
      |    unnest(list_transform(range(0, len(t) - 7),
      |      i -> array_to_string(t[i+1:i+8], ' '))) AS gram
      |  FROM d),
      |v AS (SELECT doc_id, n, pos, gram,
      |    min(doc_id) OVER (PARTITION BY gram) AS d1,
      |    max(doc_id) OVER (PARTITION BY gram) AS d2 FROM an),
      |ver AS (SELECT doc_id, n, pos, gram FROM v WHERE d1 <> d2),
      |rm AS (SELECT doc_id, n, pos FROM (SELECT doc_id, n, pos,
      |    row_number() OVER (PARTITION BY gram
      |      ORDER BY doc_id, pos) AS rk FROM ver) WHERE rk > 1),
      |cov AS (SELECT doc_id, n, pos,
      |    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS np
      |  FROM rm)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
      | CAST(SUM(CASE WHEN np IS NULL THEN 8
      |   ELSE LEAST(8, np - pos) END) AS BIGINT) AS n_removed,
      | CAST(max(n) AS BIGINT) - CAST(SUM(CASE WHEN np IS NULL THEN 8
      |   ELSE LEAST(8, np - pos) END) AS BIGINT) AS n_retained
      |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q171
  /** INCREMENTAL ExactSubstr — ingest-time span decontamination, the
    * continuous-pipeline face of q157 (and the span analogue of q95's
    * whole-doc Bloom gate): an arriving batch (source 'src0') is
    * screened against the EXISTING corpus for K-token spans the corpus
    * already contains, BEFORE the batch is admitted. Hash-first
    * discipline throughout: both sides emit only (hash, doc, pos)
    * through the wide pass; the candidate hash set is the INTERSECTION
    * of the two distinct-hash sets (bounded by true overlap +
    * collisions), and only candidate anchors on either side
    * materialize token strings for the exact gram semi-join. Coverage
    * per batch doc is the q157 interval-union window. The oracle
    * recomputes gram-first, so the pruned plan gates against ground
    * truth. Corpus-internal duplication is deliberately IGNORED —
    * admission asks only "does the corpus already have this span". */
  val q171IncrementalSubstr: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val K = ExactSubstrK
    val toks = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= K)
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("t"))
    val batchToks = toks.filter(col("source") === "src0")
      .select(col("doc_id"), col("t"))
    val corpToks = toks.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("t"))
    val bAnch = exactSubstrAnchors(batchToks, K)
    val cAnch = exactSubstrAnchors(corpToks, K)
    val candH = bAnch.select(col("h")).distinct()
      .join(cAnch.select(col("h")).distinct(), "h")
    def grams(anch: DataFrame, tk: DataFrame): DataFrame = anch
      .join(candH, "h").join(tk, "doc_id")
      .select(col("doc_id"), col("pos"), size(col("t")).as("n"),
        concat_ws(" ", slice(col("t"), col("pos") + 1, lit(K)))
          .as("gram"))
    val verified = grams(bAnch, batchToks)
      .join(grams(cAnch, corpToks).select(col("gram")).distinct(),
        Seq("gram"), "left_semi")
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    verified
      .withColumn("np", lead(col("pos"), 1).over(wd))
      .select(col("doc_id"), col("n"),
        when(col("np").isNull, lit(K))
          .otherwise(least(lit(K), col("np") - col("pos"))).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_tokens"),
        sum(col("c")).cast("long").as("contaminated_tokens"))
      .withColumn("contamination_ratio",
        col("contaminated_tokens").cast("double") /
          col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q174
  /** STREAMING ExactSubstr — q171's ingest-time span screen given its
    * streaming face (the last LLM-dedup mode that had none): arriving
    * micro-batches of documents probe the STANDING corpus's anchor
    * hashes and emit contamination coverage, all inside Structured
    * Streaming. Composition of three proven shapes:
    *
    *   1. The standing corpus publishes (a) its distinct (hash, gram)
    *      store — the join target — and (b) a 32 KB Bloom sketch of
    *      the hash set, probed MAP-SIDE on the stream (the q95 gate)
    *      so only sketch-passed anchors materialize their K-token
    *      gram. Both are built once before the stream starts; a real
    *      deployment rebuilds them on corpus-refresh cadence.
    *   2. The stream computes its rolling window hashes IN-ROW
    *      (WindowPolyHash, the q157 pass), Bloom-screens, then
    *      stream-static LEFT SEMI joins the survivors against the
    *      gram store on (hash, gram) — exact verification, so Bloom
    *      false positives drop and the answer is exact.
    *   3. Per-doc coverage: positions collect under a complete-mode
    *      doc-key aggregate and the q157 interval union folds IN-ROW
    *      over the sorted position list after the drain (window
    *      functions are not stream-legal; the in-row fold is the
    *      stream-shaped equivalent).
    *
    * The oracle is q171's verbatim — the drained streaming answer must
    * restate the batch screen exactly. */
  val q174StreamSubstr: Q = (spark, dir) => {
    import graft.functions.BloomSketch
    import graft.streaming.StreamOps
    val K = ExactSubstrK
    val corpToks = Tables.balanced(spark, dir, "documents")
      .filter(col("source") =!= "src0")
      .filter(size(split(col("text"), " ")) >= K)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val corpStore = exactSubstrAnchors(corpToks, K)
      .join(corpToks, "doc_id")
      .select(col("h"),
        concat_ws(" ", slice(col("t"), col("pos") + 1, lit(K))).as("gram"))
      .distinct()
      .localCheckpoint()
    // 32 KB of driver-held sketch state shipped into the stream as a
    // literal — the q95 broadcast gate in its streaming form
    val mBits = 1 << 18
    val bloomBytes = corpStore
      .agg(BloomSketch.build(col("h"), mBits, 7).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val stream = StreamOps.readDocuments(spark, dir)
      .filter(col("source") === "src0")
      .filter(size(split(col("text"), " ")) >= K)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val anchors = stream
      .withColumn("whs", graft.functions.WindowPolyHash(col("t"), K))
      .select(col("doc_id"), col("t"), size(col("t")).as("n"),
        posexplode_outer(col("whs")).as(Seq("pos", "h")))
      .filter(BloomSketch.mightContain(lit(bloomBytes), col("h")))
      .withColumn("gram",
        concat_ws(" ", slice(col("t"), col("pos") + 1, lit(K))))
      .drop("t")
    val verified = anchors.join(corpStore, Seq("h", "gram"), "left_semi")
    val agg = verified.groupBy(col("doc_id"))
      .agg(max(col("n")).as("n"), collect_list(col("pos")).as("ps"))
    val name = Scratch(spark, "q174").name("q174_mem")
    val drained = StreamOps.runToMemory(spark, agg, name,
      outputMode = "complete")
    val out = drained
      .withColumn("sp", sort_array(col("ps")))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        expr(s"aggregate(sequence(1, size(sp)), CAST(0 AS BIGINT), " +
          s"(acc, i) -> acc + CASE WHEN i = size(sp) " +
          s"THEN CAST($K AS BIGINT) ELSE least(CAST($K AS BIGINT), " +
          s"CAST(element_at(sp, i + 1) - element_at(sp, i) AS BIGINT)) " +
          s"END)").as("contaminated_tokens"))
      .withColumn("contamination_ratio",
        col("contaminated_tokens").cast("double") /
          col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    Checkpoints.release(corpStore)
    out
  }

  /** The streaming screen restates the batch screen: q171's oracle
    * verbatim (def, not val: q171Oracle initializes later in the
    * object). */
  def q174Oracle: String = q171Oracle

  // ---------------------------------------------------------------- q172
  /** Cross-SOURCE span-contamination matrix — the governance heat map
    * over the ExactSubstr stack: for every pair of sources, how many
    * distinct K-token spans do they share verbatim? (Which feeds
    * "which crawls copied which", licensing triage, and
    * mixture-weight double-count corrections.) The engine rides the
    * hash-anchored prune: only verified cross-doc duplicated anchors
    * materialize grams, then distinct (gram, source) pairs join per
    * gram — Σ per-gram |sources|² is capped by the source-universe
    * size squared, never corpus². A gram shared by ≥2 sources
    * necessarily spans ≥2 docs, so pruning to cross-doc duplicates
    * first loses nothing (the gram-first oracle has no prune — the
    * hash gate proves the equivalence). */
  val q172SourceSpanMatrix: Q = (spark, dir) => {
    val K = ExactSubstrK
    val toks = Tables.balanced(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= K)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
    val ver = exactSubstrVerified(toks.select(col("doc_id"), col("t")), K)
    val gs = ver.join(toks.select(col("doc_id"), col("source")), "doc_id")
      .select(col("gram"), col("source")).distinct()
    gs.as("a").join(gs.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared_grams"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q172Oracle: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |an AS (SELECT doc_id, source,
      |    unnest(list_transform(range(0, len(t) - 7),
      |      i -> array_to_string(t[i+1:i+8], ' '))) AS gram
      |  FROM d),
      |g AS (SELECT DISTINCT gram, source FROM an)
      |SELECT a.source AS src_a, b.source AS src_b,
      | CAST(count(*) AS BIGINT) AS n_shared_grams
      |FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** (hash, doc_id, pos) anchors over a token-array frame — the narrow
    * wide-pass payload shared by q157's candidates and q171's
    * two-sided screen. */
  private def exactSubstrAnchors(toks: DataFrame, K: Int): DataFrame =
    // WindowPolyHash: one native O(len) rolling pass (each token hashed
    // once, O(1) per window) — same values as the declarative
    // transform∘aggregate∘slice fold it replaced, without the per-window
    // K-slice re-fold. posexplode_outer, not posexplode:
    // InferFiltersFromGenerate would clone the hash pipeline into an
    // inferred size(whs) > 0 filter (the q135 52s trap); _outer is
    // exempt and identical here (whs non-empty for every surviving doc).
    toks
      .withColumn("whs", graft.functions.WindowPolyHash(col("t"), K))
      .select(col("doc_id"),
        posexplode_outer(col("whs")).as(Seq("pos", "h")))

  val q171Oracle: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |an AS (SELECT doc_id, source, len(t) AS n,
      |    unnest(range(0, len(t) - 7)) AS pos,
      |    unnest(list_transform(range(0, len(t) - 7),
      |      i -> array_to_string(t[i+1:i+8], ' '))) AS gram
      |  FROM d),
      |cg AS (SELECT DISTINCT gram FROM an WHERE source <> 'src0'),
      |hit AS (SELECT doc_id, n, pos FROM an WHERE source = 'src0'
      |  AND gram IN (SELECT gram FROM cg)),
      |cov AS (SELECT doc_id, n, pos,
      |    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS np
      |  FROM hit)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
      | CAST(SUM(CASE WHEN np IS NULL THEN 8
      |   ELSE LEAST(8, np - pos) END) AS BIGINT) AS contaminated_tokens,
      | CAST(SUM(CASE WHEN np IS NULL THEN 8
      |   ELSE LEAST(8, np - pos) END) AS DOUBLE)
      |   / CAST(max(n) AS DOUBLE) AS contamination_ratio
      |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val keys: ListMap[String, Key] = ListMap(
    "q39_jaccard_pairs" -> Key(q39JaccardPairs, q39Oracle),
    "q40_minhash_lsh" -> Key(q40MinHashLsh, q40Oracle),
    "q41_simhash" -> Key(q41SimHash, q41Oracle),
    "q52_dedup_clusters" -> Key(q52DedupClusters, q52Oracle),
    "q68_edit_verify" -> Key(q68EditVerify, q68Oracle),
    "q70_decontaminate" -> Key(q70Decontaminate, q70Oracle),
    "q75_cluster_keep" -> Key(q75ClusterKeep, q75Oracle),
    "q78_source_overlap" -> Key(q78SourceOverlap, q78Oracle),
    "q85_minhash_estimate" -> Key(q85MinhashEstimate, q85Oracle),
    "q95_incremental_dedup" -> Key(q95IncrementalDedup, q95Oracle),
    "q101_prefix_join" -> Key(q101PrefixJoin, q101Oracle),
    "q157_exact_substr" -> Key(q157ExactSubstr, q157Oracle),
    "q161_exact_substr_remove" -> Key(q161ExactSubstrRemove, q161Oracle),
    "q171_incremental_substr" -> Key(q171IncrementalSubstr, q171Oracle),
    "q172_source_span_matrix" -> Key(q172SourceSpanMatrix, q172Oracle),
    "q174_stream_substr" -> Key(q174StreamSubstr, q174Oracle),
  )
}
