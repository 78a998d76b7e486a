package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (Array[Float] vectors):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * (random-hyperplane) approximate variant as the 100TB scale path.
  *
  * Dot products use zip_with + aggregate in double precision — sequential
  * fold order matches DuckDB's list_inner_product so ranks are stable.
  */
object SimilarityOps {
  /** Σ a_i*b_i in double precision over two float vectors. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  // ---------------------------------------------------------------- q36
  /** Vector norms + dimension introspection. */
  val q36VectorNorms: Q = (spark, dir) =>
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(l2norm(col("embedding")), 4).as("norm"))
      .orderBy(col("vec_id"))

  val q36Oracle: String =
    """SELECT vec_id, CAST(label AS BIGINT) AS label,
      | CAST(len(embedding) AS BIGINT) AS dim,
      | round(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS norm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Brute-force cosine top-3 for a small query set (vec_id < 10) against
    * the full collection. The query side is broadcast — at scale this is a
    * map-only pass over the collection followed by a per-query top-k
    * (no shuffle of the big side). Output is rank-only (ints), so the
    * comparison is float-order-robust. */
  val q37CosineTopK: Q = (spark, dir) => {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // single-pass codegen'd cosine (graft.functions.CosineSimilarity):
    // same index-order double accumulation as the zip_with form, so the
    // oracle parity is unchanged — but inside whole-stage codegen, one
    // array walk instead of three interpreted HOF passes
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
          .as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q37Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      |s AS (SELECT q_id, vec_id,
      |  list_inner_product(q_emb, emb) /
      |    (sqrt(list_inner_product(q_emb, q_emb)) *
      |     sqrt(list_inner_product(emb, emb))) AS cos
      | FROM q, e WHERE vec_id <> q_id),
      |r AS (SELECT q_id, vec_id, cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      | FROM s)
      |SELECT q_id, rank, vec_id AS neighbor_id, round(cos, 4) AS cos_sim
      |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Random-hyperplane LSH bucketing — the ANN scale path. Hyperplanes are
    * pseudo-random but fully deterministic (hash of (plane, dim) mapped to
    * ±1), so the bucketing is reproducible across engines and runs.
    * Output: bucket signature histogram (candidate-set sizes an IVF/LSH
    * probe would touch). At 100TB the bucket id becomes the shuffle /
    * partition key and each query probes one bucket instead of the corpus.
    */
  /** Deterministic random-hyperplane bucket signature. Sign bit p of
    * vector v: sgn( Σ_d h(p,d)*v_d ), h in {-1,+1} from bit 7 of a cheap
    * integer mix of (p, d) — deterministic, engine-agnostic (pure int64
    * arithmetic, identical in Spark and the SQL oracle). Computed by the
    * codegen'd [[graft.functions.LshBucket]], which states the exact
    * semantics: one index-order double fold per plane, NaN and -0.0 count
    * as >= 0, and a NULL or empty vector, or one with a NULL element, has
    * signature 0. `nPlanes` is 1..30. One divergence from the oracle's
    * `bucketSql` that the corpus (no NULL elements) never reaches:
    * DuckDB's `list_sum` skips NULL elements (`[1, NULL]` sums to 1.0),
    * while this gives 0. */
  def lshBucket(emb: Column, nPlanes: Int): Column =
    graft.functions.LshBucket(emb, nPlanes)

  /** The bucket expression in DuckDB form (over `emb` DOUBLE[]). */
  private def bucketSql(nPlanes: Int): String =
    s"""CAST(list_sum(list_transform(range(0, $nPlanes), p ->
       |    CASE WHEN list_sum(list_transform(range(0, len(emb)), d ->
       |      emb[d+1] * (CAST(((d*2654435761 + (p+1)*40503 + d*p*97) >> 7) & 1
       |        AS DOUBLE)*2 - 1))) >= 0
       |    THEN 1 << p ELSE 0 END)) AS BIGINT)""".stripMargin

  val q38LshBuckets: Q = (spark, dir) => {
    val e = Tables(spark, dir, "embeddings")
    e.withColumn("bucket", lshBucket(col("embedding"), 8))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy(col("bucket"))
  }

  val q38Oracle: String =
    """WITH b AS (SELECT vec_id, label,
      |  CAST(list_sum(list_transform(range(0, 8), p ->
      |    CASE WHEN list_sum(list_transform(range(0, len(emb)), d ->
      |      emb[d+1] * (CAST(((d*2654435761 + (p+1)*40503 + d*p*97) >> 7) & 1
      |        AS DOUBLE)*2 - 1))) >= 0
      |    THEN 1 << p ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings))
      |SELECT bucket, count(*) AS n_vectors,
      | count(DISTINCT label) AS n_labels
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: candidates are
    * pairs sharing a hyperplane bucket (the self-join key — bounded
    * candidate sets, never all-pairs), verified with the exact codegen'd
    * cosine at a similarity threshold (0.3 here — the synthetic corpus
    * has no true duplicates; a production dedup run sets ~0.9). The
    * 100 TB shape: bucket id is the shuffle key; pair work is Σ bucket²
    * not corpus². */
  val q43EmbeddingNearDup: Q = (spark, dir) => {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), 8).as("bucket"))
      .repartition(col("bucket"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.CosineSimilarity(
          col("a.embedding"), col("b.embedding")).as("cos"))
    pairs.filter(col("cos") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q43Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb, ${bucketSql(8)} AS bucket FROM e),
       |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |  list_inner_product(a.emb, b2.emb) /
       |    (sqrt(list_inner_product(a.emb, a.emb)) *
       |     sqrt(list_inner_product(b2.emb, b2.emb))) AS cos
       | FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       |SELECT id_a, id_b, round(cos, 4) AS cos_sim
       |FROM p WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q44
  /** ANN probe path (bucket-pruned search): each query vector probes ONLY
    * its own bucket's candidates — the read-side complement of q38's
    * build side. Top-3 by exact cosine within the probed bucket. At scale
    * the corpus is stored bucket-partitioned, so a probe touches one
    * partition instead of the corpus. */
  val q44AnnProbe: Q = (spark, dir) => {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), 8).as("bucket"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
    val scored = e.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
          .as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q44Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb, ${bucketSql(8)} AS bucket FROM e),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket FROM b
       |      WHERE vec_id < 10),
       |s AS (SELECT q_id, b.vec_id,
       |  list_inner_product(q_emb, b.emb) /
       |    (sqrt(list_inner_product(q_emb, q_emb)) *
       |     sqrt(list_inner_product(b.emb, b.emb))) AS cos
       | FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       | FROM s)
       |SELECT q_id, rank, vec_id AS neighbor_id, round(cos, 4) AS cos_sim
       |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Squared L2 distance in double precision (sequential fold — matches
    * the oracle's list_sum of per-dim squares). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, x) => acc + x)

  private def ivfCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))

  /** `vectors` scored against every (broadcast) centroid. */
  private def ivfScoredAgainst(vectors: DataFrame,
      centroids: DataFrame): DataFrame =
    vectors.join(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"),
        l2sq(col("embedding"), col("c_emb")).as("d2"))

  /** Every vector scored against every centroid. */
  private def ivfScored(e: DataFrame): DataFrame =
    ivfScoredAgainst(e, ivfCentroids(e))

  /** IVF list assignment: nearest centroid per vector via a PARTIAL-
    * AGGREGATABLE argmin (min over (d2, cent_id) structs — map-side
    * combine, no window shuffle of the corpus). The coarse quantizer here
    * is deterministic (the 16 lowest-id vectors) — k-means training is
    * orthogonal to the partition/probe architecture under test. */
  private def ivfAssigned(e: DataFrame): DataFrame =
    ivfScored(e)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"),
        first(col("label")).as("label"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("m.cent_id").as("cent_id"))

  /** IVF build side: inverted-list histogram. At 100 TB `cent_id` is the
    * storage partition key; a probe touches nprobe partitions instead of
    * the corpus. */
  val q48IvfAssign: Q = (spark, dir) =>
    ivfAssigned(Tables(spark, dir, "embeddings"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy(col("cent_id"))

  private val ivfBaseSql: String =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, emb AS c_emb FROM e WHERE vec_id < 16),
      |s AS (SELECT e.vec_id, e.label, e.emb, cent_id,
      |  list_sum(list_transform(range(0, len(emb)), i ->
      |    (emb[i+1]-c_emb[i+1])*(emb[i+1]-c_emb[i+1]))) AS d2
      | FROM e, c),
      |a AS (SELECT vec_id, label, emb, cent_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY d2, cent_id) AS rn FROM s) WHERE rn = 1)""".stripMargin

  val q48Oracle: String =
    s"""WITH $ivfBaseSql
       |SELECT cent_id, count(*) AS n_vectors,
       | count(DISTINCT label) AS n_labels
       |FROM a GROUP BY cent_id ORDER BY cent_id""".stripMargin

  // ---------------------------------------------------------------- q49
  /** IVF probe side: each query scans the nprobe=2 nearest inverted lists
    * and takes the exact-cosine top-3 among their members. Complements
    * q48 the way q44 complements q38 — the probe set is broadcast and
    * only nprobe lists shuffle. */
  val q49IvfProbe: Q = (spark, dir) => {
    val e = Tables(spark, dir, "embeddings")
    val assigned = ivfAssigned(e).repartition(col("cent_id"))
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("cent_id"))
    // score queries against the FULL centroid set (filtering first would
    // shrink the quantizer to the query subset's own low ids)
    val probes = ivfScoredAgainst(e.filter(col("vec_id") < 10),
        ivfCentroids(e))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("cent_id"))
    val scored = assigned.join(broadcast(probes),
        assigned("cent_id") === probes("cent_id") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
          .as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q49Oracle: String =
    s"""WITH $ivfBaseSql,
       |p AS (SELECT vec_id AS q_id, emb AS q_emb, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d2, cent_id) AS rn FROM s WHERE vec_id < 10)
       |  WHERE rn <= 2),
       |cand AS (SELECT q_id, a.vec_id,
       |  list_inner_product(q_emb, a.emb) /
       |    (sqrt(list_inner_product(q_emb, q_emb)) *
       |     sqrt(list_inner_product(a.emb, a.emb))) AS cos
       | FROM p JOIN a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       | FROM cand)
       |SELECT q_id, rank, vec_id AS neighbor_id, round(cos, 4) AS cos_sim
       |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Fixed-point scale for deterministic k-means accumulation: 2^20.
    * Multiplying by a power of two is exact in IEEE doubles, so the
    * quantization floor(x·2^20)/2^20 and the de-scaling divisions are all
    * bit-deterministic — and integer sums commute, unlike float sums. */
  private val KmFix = 1048576.0

  /** Vectors quantized to the 2^-20 grid (exact in doubles). */
  def kmeansQuantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * KmFix) / KmFix)

  /** Lloyd's k-means over the embedding corpus, engineered for both
    * determinism and scale:
    *
    *   - *Deterministic accumulation.* Naive k-means is irreproducible on
    *     a cluster: double addition is non-associative, so partial
    *     aggregation order changes the centroids run to run. Vectors are
    *     quantized to a 2^-20 fixed-point grid and per-dimension sums run
    *     in exact int64 — every round is bit-reproducible at any
    *     parallelism (and oracle-checkable against DuckDB).
    *   - *Map-only assignment.* Centroids ride along as ONE broadcast
    *     array row; the nearest-centroid argmin is a `least`-fold over
    *     that array inside the row — no per-centroid row explosion, no
    *     corpus shuffle. (`least` evaluates each operand once, so the
    *     distance fold runs exactly once per centroid.)
    *   - *Combinable update.* The centroid rebuild shuffles only
    *     (cent_id, dim, partial sum) after map-side combine: k·d rows per
    *     task, independent of corpus size.
    *
    * Init = the k lowest-id vectors (deterministic; k-means++ would add
    * seeded randomness the oracle can't mirror). Empty clusters drop out,
    * as in the reference Lloyd formulation.
    *
    * Returns (cent_id, c /* array<double> */, n_vectors) after `iters`
    * rounds. */
  def kmeansTrain(e: DataFrame, k: Int, iters: Int): DataFrame = {
    val q = e.select(col("vec_id"),
      kmeansQuantize(col("embedding")).as("emb"))
    var cents = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("emb").as("c"),
        lit(1L).as("n"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val centsArr = cents.agg(
        array_sort(collect_list(struct(col("cent_id"), col("c"))))
          .as("cents"))
      // (d2, cent_id) pairs are unique per row, so the least-fold is
      // order-independent even though the array is sorted for determinism
      val init = struct(lit(Double.PositiveInfinity).as("d2"),
        lit(Long.MaxValue).as("cent_id"))
      val best = aggregate(col("cents"), init, (acc, c) =>
        least(acc, struct(l2sq(col("emb"), c.getField("c")).as("d2"),
          c.getField("cent_id").as("cent_id"))))
      val assigned = q.crossJoin(broadcast(centsArr))
        .select(col("emb"), best.getField("cent_id").as("cent_id"))
      val next = assigned
        .select(col("cent_id"),
          posexplode(transform(col("emb"), x => (x * KmFix).cast("long"))))
        .groupBy(col("cent_id"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
            (col("s").cast("double") / col("n") / KmFix).as("v")))),
          s => s.getField("v")).as("c"),
          max(col("n")).as("n"))
        .localCheckpoint()
      // round N is materialized — free round N−1's blocks immediately
      // instead of leaving superseded centroids to the ContextCleaner
      Checkpoints.release(cents)
      cents = next
    }
    cents.withColumnRenamed("n", "n_vectors")
  }

  /** k-means-trained IVF quantizer (k=16, 3 Lloyd rounds): per-centroid
    * member count and centroid norm. The trained upgrade of q48's
    * lowest-id quantizer — same inverted-list architecture, better list
    * balance. */
  val q53KmeansCentroids: Q = (spark, dir) =>
    kmeansTrain(Tables(spark, dir, "embeddings"), k = 16, iters = 3)
      .select(col("cent_id"), col("n_vectors"),
        round(sqrt(aggregate(col("c"), lit(0.0), (a, x) => a + x * x)), 4)
          .as("c_norm"))
      .orderBy(col("cent_id"))

  /** One Lloyd round in DuckDB: assign to the argmin centroid, then
    * per-dimension exact-integer mean on the 2^-20 grid. */
  private def kmIterSql(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""s$i AS (SELECT e.vec_id, e.emb, $prev.cent_id,
       |  list_sum(list_transform(range(0, len(e.emb)), j ->
       |    (e.emb[j+1]-$prev.c[j+1])*(e.emb[j+1]-$prev.c[j+1]))) AS d2
       | FROM e, $prev),
       |a$i AS (SELECT vec_id, emb, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d2, cent_id) AS rn FROM s$i) WHERE rn = 1),
       |x$i AS (SELECT cent_id,
       |    unnest(range(0, len(emb))) AS j,
       |    unnest(list_transform(emb, x -> CAST(x*1048576 AS BIGINT))) AS fx
       |  FROM a$i),
       |m$i AS (SELECT cent_id, j,
       |    CAST(sum(fx) AS DOUBLE)/count(*)/1048576 AS v, count(*) AS n
       |  FROM x$i GROUP BY cent_id, j),
       |c$i AS (SELECT cent_id, list(v ORDER BY j) AS c, max(n) AS n
       |  FROM m$i GROUP BY cent_id)""".stripMargin
  }

  val q53Oracle: String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding::DOUBLE[],
       |    x -> floor(x*1048576)/1048576) AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, emb AS c FROM e WHERE vec_id < 16),
       |${kmIterSql(1)},
       |${kmIterSql(2)},
       |${kmIterSql(3)}
       |SELECT cent_id, n AS n_vectors,
       | round(sqrt(list_inner_product(c, c)), 4) AS c_norm
       |FROM c3 ORDER BY cent_id""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Product quantization with asymmetric-distance (ADC) probing — the
    * memory-bound complement of IVF: vectors compress to M sub-space code
    * ids (here 4×16 dims, 16 codes each → 4 bytes/vector instead of
    * 256), and queries rank candidates by distance to the RECONSTRUCTED
    * corpus vector. Everything is HOF folds over one broadcast centroid
    * array row:
    *
    *   - encode = per-subspace `least`-fold argmin over the centroid
    *     slices — map-only over the corpus, no shuffle, no row explosion;
    *   - reconstruct = concat of the winning centroids' subvectors,
    *     computed in the same projection;
    *   - probe = broadcast query join + exact fold distance to the
    *     reconstruction + per-query top-k window.
    *
    * At 100 TB the codes (not the vectors) are what you store and scan:
    * 64× smaller, and the scan stays map-only. The codebook here is the
    * deterministic lowest-id quantizer (same rationale as q48); training
    * it with q53's fixed-point k-means per subspace composes directly. */
  val q54PqAdc: Q = (spark, dir) => {
    val M = 4
    val subDim = 16 // 64-dim embeddings
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("emb"))
    val cbRow = e.filter(col("vec_id") < 16)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cent_id"),
        col("emb").as("c")))).as("cents"))
    def sub(v: Column, s: Column): Column = slice(v, s * subDim + 1, lit(subDim))
    // reconstruction: for each subspace, the argmin centroid's subvector;
    // (d2, cent_id) pairs are unique so the least-fold is order-safe
    val init = struct(lit(Double.PositiveInfinity).as("d2"),
      lit(Long.MaxValue).as("cent_id"))
    def recon(emb: Column): Column =
      flatten(transform(sequence(lit(0), lit(M - 1)), s => {
        val code = aggregate(col("cents"), init, (acc, c) =>
          least(acc, struct(l2sq(sub(emb, s), sub(c.getField("c"), s))
            .as("d2"), c.getField("cent_id").as("cent_id"))))
          .getField("cent_id")
        sub(element_at(col("cents"), (code + 1).cast("int")).getField("c"), s)
      }))
    // BNLJ bound (r17 audit): broadcast side is ONE row — the M×16
    // codebook array. The nested loop degenerates to a per-row attach
    // of a constant-sized struct; nothing row-proportional crosses it.
    val coded = e.crossJoin(broadcast(cbRow))
      .select(col("vec_id"), recon(col("emb")).as("recon"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    // BNLJ bound (r17 audit): broadcast side is the PROBE SET (|Q|=10
    // rows by the vec_id<10 literal) — corpus×|Q| candidate generation
    // is the ADC probe itself, bounded by the query batch size, never
    // by the corpus.
    val scored = coded.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        l2sq(col("q_emb"), col("recon")).as("adc"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 4).as("adc_dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q54Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, emb AS c_emb FROM e WHERE vec_id < 16),
      |sd AS (SELECT e.vec_id, s, cent_id,
      |  list_sum(list_transform(range(1, 17), j ->
      |    (e.emb[s*16+j] - c.c_emb[s*16+j]) *
      |    (e.emb[s*16+j] - c.c_emb[s*16+j]))) AS d2
      | FROM e, range(0, 4) r(s), c),
      |code AS (SELECT vec_id, s, cent_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY d2, cent_id) AS rn FROM sd) WHERE rn = 1),
      |recon AS (SELECT vec_id,
      |    flatten(list(list_slice(c.c_emb, s*16+1, s*16+16) ORDER BY s)) AS r
      |  FROM code JOIN c USING (cent_id) GROUP BY vec_id),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      |sc AS (SELECT q_id, recon.vec_id,
      |  list_sum(list_transform(range(0, len(q_emb)), i ->
      |    (q_emb[i+1]-r[i+1])*(q_emb[i+1]-r[i+1]))) AS adc
      | FROM q, recon WHERE recon.vec_id <> q_id),
      |rk AS (SELECT q_id, vec_id, adc,
      |  row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rank
      | FROM sc)
      |SELECT q_id, rank, vec_id AS neighbor_id, round(adc, 4) AS adc_dist
      |FROM rk WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q55
  /** IVF + PQ with residual encoding — the composed FAISS-IVFADC
    * architecture, and the full 100 TB ANN story in one pipeline:
    *
    *   1. *Coarse quantize* (q48's shape): map-only broadcast argmin
    *      assigns each vector to its nearest of 16 coarse centroids;
    *      `cent_id` is the storage partition key.
    *   2. *Residual PQ encode* (q54's shape, applied to x − c): each
    *      16-dim subspace of the residual compresses to a 4-bit code via
    *      a `least`-fold argmin over one broadcast codebook row — map-only,
    *      no shuffle, no row explosion. Stored bytes per vector: M codes,
    *      not the vector.
    *   3. *ADC probe* (q49's shape): a query probes its nprobe=2 nearest
    *      lists only, ranking candidates by ‖(q − c) − recon(residual)‖²
    *      against the reconstruction — exact distance to the compressed
    *      representation, never touching the raw corpus vectors.
    *
    * Codebooks are deterministic (coarse: 16 lowest-id vectors; residual:
    * the residuals of vec_ids 16–31) so the oracle can mirror them;
    * training either with q53's fixed-point k-means composes directly. */
  val q55IvfPqProbe: Q = (spark, dir) => {
    val M = 4
    val subDim = 16 // 64-dim embeddings
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("emb"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("emb").as("c_emb"))
    // coarse assignment: partial-aggregatable argmin (q48's shape).
    // BNLJ bound (r17 audit): the keyless broadcast join IS the coarse
    // quantizer — every vector must score against every centroid, and
    // the broadcast side is nlist=16 rows (a training-time constant),
    // never corpus-proportional.
    val scoredAll = e.join(broadcast(cents))
      .select(col("vec_id"), col("emb"), col("cent_id"), col("c_emb"),
        l2sq(col("emb"), col("c_emb")).as("d2"))
    val wMin = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("cent_id"))
    val assigned = scoredAll
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"),
        first(col("emb")).as("emb"))
      .select(col("vec_id"), col("emb"), col("m.cent_id").as("cent_id"))
    // residual r = x − c(cent_id)
    val withRes = assigned.join(broadcast(cents), Seq("cent_id"))
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("emb"), col("c_emb"), (x, y) => x - y).as("res"))
    // residual codebook: residuals of vec_ids 16..31, one broadcast row
    val cbRow = withRes.filter(col("vec_id") >= 16 && col("vec_id") < 32)
      .agg(array_sort(collect_list(struct((col("vec_id") - 16).as("code_id"),
        col("res").as("cr")))).as("cb"))
    def sub(v: Column, s: Column): Column = slice(v, s * subDim + 1, lit(subDim))
    val init = struct(lit(Double.PositiveInfinity).as("d2"),
      lit(Long.MaxValue).as("code_id"))
    // encode + reconstruct in one projection (q54's shape, on residuals)
    def recon(res: Column): Column =
      flatten(transform(sequence(lit(0), lit(M - 1)), s => {
        val code = aggregate(col("cb"), init, (acc, c) =>
          least(acc, struct(l2sq(sub(res, s), sub(c.getField("cr"), s))
            .as("d2"), c.getField("code_id").as("code_id"))))
          .getField("code_id")
        sub(element_at(col("cb"), (code + 1).cast("int")).getField("cr"), s)
      }))
    // BNLJ bound (r17 audit): broadcast side is ONE row (the residual
    // codebook array) — constant-sized attach, as in q54.
    val coded = withRes.crossJoin(broadcast(cbRow))
      .select(col("vec_id"), col("cent_id"), recon(col("res")).as("rr"))
      .repartition(col("cent_id"))
    // probe side: nprobe=2 nearest lists per query, carrying c_emb for
    // the query-residual computation (scored against the FULL centroid
    // set — filtering first would shrink the quantizer)
    val probes = scoredAll.filter(col("vec_id") < 10)
      .withColumn("rn", row_number().over(wMin))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("q_id"),
        zip_with(col("emb"), col("c_emb"), (x, y) => x - y).as("q_res"),
        col("cent_id"))
    val scored = coded.join(broadcast(probes),
        coded("cent_id") === probes("cent_id") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        l2sq(col("q_res"), col("rr")).as("adc"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 4).as("adc_dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q55Oracle: String =
    s"""WITH $ivfBaseSql,
       |res AS (SELECT a.vec_id, a.cent_id,
       |    list_transform(range(0, len(emb)), i -> emb[i+1]-c_emb[i+1]) AS r
       |  FROM a JOIN c USING (cent_id)),
       |cb AS (SELECT vec_id - 16 AS code_id, r AS cr FROM res
       |       WHERE vec_id >= 16 AND vec_id < 32),
       |sd AS (SELECT res.vec_id, sp, code_id,
       |  list_sum(list_transform(range(1, 17), j ->
       |    (res.r[sp*16+j] - cb.cr[sp*16+j]) *
       |    (res.r[sp*16+j] - cb.cr[sp*16+j]))) AS d2
       | FROM res, range(0, 4) t(sp), cb),
       |code AS (SELECT vec_id, sp, code_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, sp
       |    ORDER BY d2, code_id) AS rn FROM sd) WHERE rn = 1),
       |recon AS (SELECT vec_id,
       |    flatten(list(list_slice(cb.cr, sp*16+1, sp*16+16) ORDER BY sp)) AS rr
       |  FROM code JOIN cb USING (code_id) GROUP BY vec_id),
       |coded AS (SELECT res.vec_id, res.cent_id, recon.rr
       |  FROM res JOIN recon USING (vec_id)),
       |p AS (SELECT vec_id AS q_id,
       |    list_transform(range(0, len(emb)), i -> emb[i+1]-c_emb[i+1]) AS q_res,
       |    cent_id
       |  FROM (SELECT s.*, c.c_emb, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2, cent_id) AS rn FROM s JOIN c USING (cent_id)
       |      WHERE vec_id < 10) WHERE rn <= 2),
       |cand AS (SELECT q_id, coded.vec_id,
       |  list_sum(list_transform(range(0, len(q_res)), i ->
       |    (q_res[i+1]-rr[i+1])*(q_res[i+1]-rr[i+1]))) AS adc
       | FROM p JOIN coded ON p.cent_id = coded.cent_id
       |   AND coded.vec_id <> p.q_id),
       |rk AS (SELECT q_id, vec_id, adc,
       |  row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rank
       | FROM cand)
       |SELECT q_id, rank, vec_id AS neighbor_id, round(adc, 4) AS adc_dist
       |FROM rk WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Scalar quantization (SQ8): per-dimension min/max train pass, 8-bit
    * codes, integer code-space top-k — the simplest embedding-compression
    * tier (4× over float32 with no codebook training; the FAISS
    * ScalarQuantizer analog, below PQ in the compression ladder). The
    * train pass is ONE partial-aggregatable 64-group min/max (map-side
    * combine makes it a scan at 100 TB); encode is map-only against the
    * broadcast 1-row stats; the probe ranks by Σ(code−qcode)² entirely
    * in int64 — exact on any engine, no float summation anywhere. */
  val q69Sq8: Q = (spark, dir) => {
    val dims = 64
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("emb"))
    val st = e.select(posexplode(col("emb")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(array_sort(collect_list(struct(col("d"), col("mn"),
        col("mx")))).as("st"))
    def codeAt(emb: Column, d: Column): Column = {
      val s = element_at(col("st"), (d + 1).cast("int"))
      val mn = s.getField("mn")
      val mx = s.getField("mx")
      val v = element_at(emb, (d + 1).cast("int"))
      least(lit(255L), greatest(lit(0L),
        when(mx > mn, floor((v - mn) / (mx - mn) * 255))
          .otherwise(lit(0L)).cast("long")))
    }
    val codes = e.crossJoin(broadcast(st))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => codeAt(col("emb"), d)).as("codes"))
    val q = codes.filter(col("vec_id") === 0)
      .select(col("codes").as("qcodes"))
    codes.crossJoin(broadcast(q))
      .select(col("vec_id"),
        aggregate(sequence(lit(0), lit(dims - 1)), lit(0L), (acc, d) => {
          val diff = element_at(col("codes"), (d + 1).cast("int")) -
            element_at(col("qcodes"), (d + 1).cast("int"))
          acc + diff * diff
        }).as("code_dist"))
      .orderBy(col("code_dist"), col("vec_id"))
      .limit(10)
  }

  val q69Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |x AS (SELECT vec_id, generate_subscripts(emb, 1) AS d,
      |  unnest(emb) AS v FROM e),
      |st AS (SELECT d, min(v) AS mn, max(v) AS mx FROM x GROUP BY d),
      |c AS (SELECT x.vec_id, x.d,
      |  least(255, greatest(0, CASE WHEN st.mx > st.mn
      |    THEN CAST(floor((x.v - st.mn) / (st.mx - st.mn) * 255) AS BIGINT)
      |    ELSE 0 END)) AS cd
      | FROM x JOIN st USING (d)),
      |q AS (SELECT d, cd AS qc FROM c WHERE vec_id = 0)
      |SELECT c.vec_id,
      | CAST(sum((c.cd - q.qc) * (c.cd - q.qc)) AS BIGINT) AS code_dist
      |FROM c JOIN q USING (d)
      |GROUP BY c.vec_id
      |ORDER BY code_dist, vec_id
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q74
  /** ANN index-quality evaluation: recall@3 of the IVF probe (q49)
    * against the exact brute-force top-3 (q37) per query — the metric
    * that decides nlist/nprobe before an index ships. Composes the two
    * existing pipelines and LEFT-joins exact neighbors to probed ones;
    * both sides are per-query top-k (|Q|·k rows), so the join is a
    * broadcast over tiny sets regardless of corpus size — the expensive
    * scans underneath keep their own scale shapes. Recall is a ratio of
    * small exact ints (IEEE-exact on any engine). */
  val q74AnnRecall: Q = (spark, dir) => {
    val exact = q37CosineTopK(spark, dir)
      .select(col("q_id"), col("neighbor_id"))
    val probed = q49IvfProbe(spark, dir)
      .select(col("q_id").as("p_q"), col("neighbor_id").as("p_n"))
    exact.join(broadcast(probed),
        col("q_id") === col("p_q") && col("neighbor_id") === col("p_n"),
        "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).cast("long").as("n_exact"),
        sum(when(col("p_n").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact")).as("recall"))
      .orderBy(col("q_id"))
  }

  val q74Oracle: String =
    s"""WITH $ivfBaseSql,
       |p AS (SELECT vec_id AS q_id, emb AS q_emb, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d2, cent_id) AS rn FROM s WHERE vec_id < 10)
       |  WHERE rn <= 2),
       |cand AS (SELECT q_id, a.vec_id,
       |  list_inner_product(q_emb, a.emb) /
       |    (sqrt(list_inner_product(q_emb, q_emb)) *
       |     sqrt(list_inner_product(a.emb, a.emb))) AS cos
       | FROM p JOIN a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id),
       |ar AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank FROM cand) WHERE rank <= 3),
       |xq AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
       |xs AS (SELECT q_id, e.vec_id,
       |  list_inner_product(q_emb, emb) /
       |    (sqrt(list_inner_product(q_emb, q_emb)) *
       |     sqrt(list_inner_product(emb, emb))) AS cos
       | FROM xq, e WHERE e.vec_id <> q_id),
       |xr AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rank FROM xs) WHERE rank <= 3)
       |SELECT xr.q_id, count(*) AS n_exact,
       | CAST(sum(CASE WHEN ar.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_hit,
       | sum(CASE WHEN ar.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
       |   / count(*) AS recall
       |FROM xr LEFT JOIN ar ON xr.q_id = ar.q_id AND xr.vec_id = ar.vec_id
       |GROUP BY xr.q_id ORDER BY xr.q_id""".stripMargin

  // ---------------------------------------------------------------- q92
  /** k-NN GRAPH construction (k = 3): every vector's top-3 neighbors by
    * exact cosine among its LSH-bucket candidates — the neighbor graph
    * that graph-based dedup, clustering and label propagation consume
    * (q52/q76-style iterations run ON this output). Candidates are the
    * symmetric form of q43's bucket pairs (Σ bucket², never corpus²);
    * the per-node top-k is one row_number window over the node key the
    * bucket join already shuffled on. Ranking uses the UNROUNDED cosine
    * (bit-identical row-level IEEE on both engines) with the neighbor
    * id as tiebreak; only the emitted value is rounded. Vectors alone
    * in their bucket have no candidates and are absent, exactly as in
    * a production ANN-graph build at this nlist/nprobe tier. */
  val q92KnnGraph: Q = (spark, dir) => knnGraphCore(spark, dir, nPlanes = 8)

  /** `nPlanes` is the bucket-width knob: hyperplane p depends only on p,
    * so an nPlanes-bit signature is a PREFIX of any wider one — halving
    * nPlanes coarsens every bucket into a superset, the candidate pair
    * set grows monotonically, and per-node best-neighbor cosine can only
    * improve (the recall floor) — spec-pinned at 8 vs 4 planes. */
  def knnGraphCore(spark: SparkSession, dir: String,
      nPlanes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), nPlanes).as("bucket"))
      .repartition(col("bucket"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("cos").desc, col("nbr"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("node"), col("b.vec_id").as("nbr"),
        graft.functions.CosineSimilarity(
          col("a.embedding"), col("b.embedding")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("node"), col("rn").cast("long").as("rn"), col("nbr"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("node"), col("rn"))
  }

  // ---------------------------------------------------------------- q163
  /** Dimension-TRUNCATION retrieval eval (the Matryoshka question):
    * if queries ran on the first d/2 dimensions instead of all d, how
    * often does the top-1 neighbor survive? Serving half the vector
    * halves the ANN index's memory and bandwidth — this measures what
    * that buys you BEFORE re-embedding anything. Same Σ bucket² shape
    * as q92 (one bucket join feeds both rankings; the half-prefix is
    * sliced in-row before the join so full and truncated cosine read
    * the SAME pair row); agreement emits as pure integers (n_nodes,
    * n_agree, pct fixed-point) — wall-to-wall engine-exact, no float
    * leaves the plan. */
  val q163TruncationEval: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("slice(embedding, 1, size(embedding) div 2)").as("half"),
        lshBucket(col("embedding"), 8).as("bucket"))
      .repartition(col("bucket"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("node"), col("b.vec_id").as("nbr"),
        graft.functions.CosineSimilarity(
          col("a.embedding"), col("b.embedding")).as("cf"),
        graft.functions.CosineSimilarity(
          col("a.half"), col("b.half")).as("ch"))
    // BOTH ranks ride ONE pair frame: the two windows share the node
    // partitioning, so Catalyst plans a single node exchange with two
    // in-partition sort passes — vs a top1-per-ranking join, which
    // re-plans the whole bucket join per ranking (audited 9 exchanges
    // + an SMJ; this shape audits 4 with none).
    def rk(score: String) = row_number().over(
      Window.partitionBy(col("node")).orderBy(col(score).desc, col("nbr")))
    pairs
      .withColumn("rf", rk("cf")).withColumn("rh", rk("ch"))
      .groupBy(col("node"))
      .agg(max(when(col("rf") === 1, col("nbr"))).as("nbr_full"),
        max(when(col("rh") === 1, col("nbr"))).as("nbr_half"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum(when(col("nbr_full") === col("nbr_half"), 1L)
          .otherwise(0L)).cast("long").as("n_agree"))
      .withColumn("agree_pct_x100",
        expr("(10000 * n_agree) DIV n_nodes"))
  }

  val q163Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       |  FROM embeddings),
       |h AS (SELECT vec_id, emb, emb[1:len(emb)//2] AS half,
       |    ${bucketSql(8)} AS bucket FROM e),
       |p AS (SELECT a.vec_id AS node, b.vec_id AS nbr,
       |  list_inner_product(a.emb, b.emb) /
       |    (sqrt(list_inner_product(a.emb, a.emb)) *
       |     sqrt(list_inner_product(b.emb, b.emb))) AS cf,
       |  list_inner_product(a.half, b.half) /
       |    (sqrt(list_inner_product(a.half, a.half)) *
       |     sqrt(list_inner_product(b.half, b.half))) AS ch
       | FROM h a JOIN h b ON a.bucket = b.bucket
       |   AND a.vec_id <> b.vec_id),
       |rf AS (SELECT node, nbr FROM (SELECT node, nbr, row_number()
       |    OVER (PARTITION BY node ORDER BY cf DESC, nbr) AS r FROM p)
       |  WHERE r = 1),
       |rh AS (SELECT node, nbr FROM (SELECT node, nbr, row_number()
       |    OVER (PARTITION BY node ORDER BY ch DESC, nbr) AS r FROM p)
       |  WHERE r = 1),
       |j AS (SELECT rf.node, rf.nbr AS nf, rh.nbr AS nh
       |  FROM rf JOIN rh USING (node))
       |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       | CAST(sum(CASE WHEN nf = nh THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_agree,
       | (10000 * CAST(sum(CASE WHEN nf = nh THEN 1 ELSE 0 END)
       |   AS BIGINT)) // CAST(count(*) AS BIGINT) AS agree_pct_x100
       |FROM j""".stripMargin

  val q92Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb, ${bucketSql(8)} AS bucket FROM e),
       |p AS (SELECT a.vec_id AS node, b2.vec_id AS nbr,
       |  list_inner_product(a.emb, b2.emb) /
       |    (sqrt(list_inner_product(a.emb, a.emb)) *
       |     sqrt(list_inner_product(b2.emb, b2.emb))) AS cos
       | FROM b a JOIN b b2 ON a.bucket = b2.bucket
       |   AND a.vec_id <> b2.vec_id),
       |r AS (SELECT node, nbr, cos, row_number() OVER (
       |    PARTITION BY node ORDER BY cos DESC, nbr) AS rn FROM p)
       |SELECT node, CAST(rn AS BIGINT) AS rn, nbr,
       | round(cos, 4) AS cos_sim
       |FROM r WHERE rn <= 3 ORDER BY node, rn""".stripMargin

  // ---------------------------------------------------------------- q111
  /** SemDeDup — semantic deduplication (Abbas et al. 2023): cluster the
    * embedding corpus with k-means, then prune, WITHIN each cluster, any
    * vector whose cosine similarity to a lower-id cluster member exceeds
    * τ = 0.30. The clusters bound the candidate set — the pair join is
    * Σ cluster², never corpus², which is the paper's own scale story: at
    * 100 TB you grow k with N (k ≈ √N keeps E[cluster²] ≈ N) so each
    * cluster's pair block stays executor-sized, and the join shuffles
    * on cent_id, the same key the IVF layout already partitions by.
    *
    * Determinism: clustering is q53's fixed-point k-means (2 Lloyd
    * rounds, int64 accumulation on the 2^-20 grid — bit-reproducible at
    * any parallelism); the cosine is the same sequential IEEE fold the
    * oracle's list_inner_product computes, so the τ comparison agrees
    * bit-for-bit. Keep-lowest-id is the SemDeDup tie rule.
    *
    * Output: per-cluster vector count, pruned count, and the id-sum of
    * the kept set (the membership checksum). */
  val q111SemDedup: Q = (spark, dir) => semDedupCore(spark, dir, k = 16)

  /** `k` is the grow-with-N knob (k ≈ √N): at any k the assignment is a
    * PARTITION of the corpus (each vector lands in exactly one cluster)
    * — spec-pinned at k=16 and k=32. */
  def semDedupCore(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val cents = kmeansTrain(e, k = k, iters = 2)
    val q = e.select(col("vec_id"), kmeansQuantize(col("embedding")).as("emb"))
    val centsArr = cents.agg(
      array_sort(collect_list(struct(col("cent_id"), col("c")))).as("cents"))
    val init = struct(lit(Double.PositiveInfinity).as("d2"),
      lit(Long.MaxValue).as("cent_id"))
    val best = aggregate(col("cents"), init, (acc, c) =>
      least(acc, struct(l2sq(col("emb"), c.getField("c")).as("d2"),
        c.getField("cent_id").as("cent_id"))))
    val assigned = q.crossJoin(broadcast(centsArr))
      .select(col("vec_id"), col("emb"), best.getField("cent_id").as("cent_id"))
    val a = assigned.select(col("cent_id"), col("vec_id").as("i"),
      col("emb").as("ei"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("j"),
      col("emb").as("ej"))
    val pruned = a.join(b, Seq("cent_id"))
      .filter(col("i") < col("j"))
      .filter(graft.functions.CosineSimilarity(col("ei"), col("ej")) >= 0.30)
      .select(col("cent_id"), col("j")).distinct()
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_pruned"),
        sum(col("j")).cast("long").as("pruned_id_sum"))
    assigned.groupBy(col("cent_id"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        sum(col("vec_id")).cast("long").as("id_sum"))
      .join(pruned, Seq("cent_id"), "left")
      .select(col("cent_id"), col("n_vectors"),
        coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
        (col("id_sum") - coalesce(col("pruned_id_sum"), lit(0L)))
          .as("kept_id_sum"))
      .orderBy(col("cent_id"))
  }

  val q111Oracle: String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding::DOUBLE[],
       |    x -> floor(x*1048576)/1048576) AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, emb AS c FROM e WHERE vec_id < 16),
       |${kmIterSql(1)},
       |${kmIterSql(2)},
       |s3 AS (SELECT e.vec_id, e.emb, c2.cent_id,
       |  list_sum(list_transform(range(0, len(e.emb)), j ->
       |    (e.emb[j+1]-c2.c[j+1])*(e.emb[j+1]-c2.c[j+1]))) AS d2
       | FROM e, c2),
       |a3 AS (SELECT vec_id, emb, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d2, cent_id) AS rn FROM s3) WHERE rn = 1),
       |pr AS (SELECT DISTINCT a.cent_id, b.vec_id AS j
       | FROM a3 a JOIN a3 b ON a.cent_id = b.cent_id
       |   AND a.vec_id < b.vec_id
       | WHERE list_inner_product(a.emb, b.emb) /
       |   (sqrt(list_inner_product(a.emb, a.emb)) *
       |    sqrt(list_inner_product(b.emb, b.emb))) >= 0.30),
       |pg AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_pruned,
       |    CAST(sum(j) AS BIGINT) AS pruned_id_sum
       |  FROM pr GROUP BY cent_id),
       |g AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vectors,
       |    CAST(sum(vec_id) AS BIGINT) AS id_sum
       |  FROM a3 GROUP BY cent_id)
       |SELECT g.cent_id, g.n_vectors,
       | COALESCE(pg.n_pruned, 0) AS n_pruned,
       | g.id_sum - COALESCE(pg.pruned_id_sum, 0) AS kept_id_sum
       |FROM g LEFT JOIN pg ON g.cent_id = pg.cent_id
       |ORDER BY g.cent_id""".stripMargin

  // ---------------------------------------------------------------- q115
  /** Contrastive-pair mining for embedding training: for each query
    * vector, the 2 most-similar vectors of the SAME label (positives)
    * and the 2 most-similar of a DIFFERENT label (hard negatives —
    * the near-misses that make a contrastive loss informative; random
    * negatives are trivially separable).
    *
    * The query set broadcasts and the corpus streams past it map-only —
    * the brute-force tier. At 100 TB the same ranking runs per IVF list
    * (q49's probe shape) so each query scans nprobe lists, not the
    * corpus; the kind/rank window is unchanged. Cosines are emitted RAW
    * (row-level IEEE is bit-identical across engines; rounding would
    * only add half-boundary risk). */
  val q115HardNegatives: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"), col("kind"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        when(col("label") === col("q_label"), "pos").otherwise("neg")
          .as("kind"),
        col("vec_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
          .as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select(col("q_id"), col("kind"), col("rank"),
        col("vec_id").as("neighbor_id"), col("cos").as("cos_sim"))
      .orderBy(col("q_id"), col("kind"), col("rank"))
  }

  val q115Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_label
      |  FROM e WHERE vec_id < 10),
      |s AS (SELECT q_id,
      |  CASE WHEN label = q_label THEN 'pos' ELSE 'neg' END AS kind,
      |  e.vec_id,
      |  list_inner_product(q_emb, emb) /
      |    (sqrt(list_inner_product(q_emb, q_emb)) *
      |     sqrt(list_inner_product(emb, emb))) AS cos
      | FROM e, q WHERE e.vec_id <> q.q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id, kind
      |    ORDER BY cos DESC, vec_id) AS rank FROM s)
      |SELECT q_id, kind, CAST(rank AS BIGINT) AS rank,
      | vec_id AS neighbor_id, cos AS cos_sim
      |FROM r WHERE rank <= 2 ORDER BY q_id, kind, rank""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Cluster → label purity: per IVF cluster, the majority ground-truth
    * label, its share, and the cluster size — the standard external
    * evaluation of an embedding clustering (purity ≈ how well the
    * quantizer's regions align with semantics), and the gate a curation
    * pipeline applies before trusting cluster-level operations like
    * SemDeDup (q111) or cluster-stratified sampling.
    *
    * One (cent_id, label) aggregation shuffle; cluster totals and the
    * majority pick are windows over that k·|labels|-row aggregate, so
    * the evaluation costs nothing beyond the assignment no matter the
    * corpus size. Purity is integer fixed-point (⌊100·maj/n⌋) —
    * engine-exact. Majority ties break to the lowest label. */
  val q116ClusterPurity: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val g = ivfAssigned(Tables(spark, dir, "embeddings"))
      .groupBy(col("cent_id"), col("label"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val wTot = Window.partitionBy(col("cent_id"))
    val wMaj = Window.partitionBy(col("cent_id"))
      .orderBy(col("cnt").desc, col("label"))
    g.withColumn("n_vectors", sum(col("cnt")).over(wTot))
      .withColumn("rn", row_number().over(wMaj))
      .filter(col("rn") === 1)
      .select(col("cent_id"), col("n_vectors"),
        col("label").as("maj_label"), col("cnt").as("maj_cnt"),
        expr("(100 * cnt) DIV n_vectors").as("purity_pct"))
      .orderBy(col("cent_id"))
  }

  val q116Oracle: String =
    s"""WITH $ivfBaseSql,
       |g AS (SELECT cent_id, label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM a GROUP BY cent_id, label),
       |t AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY cent_id) AS BIGINT)
       |    AS n_vectors,
       |  row_number() OVER (PARTITION BY cent_id
       |    ORDER BY cnt DESC, label) AS rn FROM g)
       |SELECT cent_id, n_vectors, label AS maj_label, cnt AS maj_cnt,
       | (100 * cnt) // n_vectors AS purity_pct
       |FROM t WHERE rn = 1 ORDER BY cent_id""".stripMargin

  // ---------------------------------------------------------------- q136
  /** Johnson–Lindenstrauss random projection — the DIMENSIONALITY tier
    * of the compression ladder (SQ8 q69 shrinks bits-per-dim, PQ q54
    * shrinks via codebooks; JL shrinks the number of DIMENSIONS while
    * provably ~preserving pairwise geometry): each 64-dim embedding
    * maps to 16 dims through a deterministic ±1 sign matrix
    * (Achlioptas's database-friendly construction — signs come from an
    * integer hash of (k, i), so NO projection matrix is stored or
    * broadcast; any worker regenerates any entry on the fly, which at
    * 100 TB means the projection is a pure map-only pass with zero
    * auxiliary state). The eval reports what JL actually GUARANTEES —
    * pairwise cosine DISTORTION, not top-k identity (on a
    * near-isotropic corpus neighbor margins are noise; distortion is
    * the m-vs-quality dial): per probe, mean and max |cos_full −
    * cos_proj| over the corpus at BOTH m=16 and m=32 — the m=16
    * projection is a PREFIX of the m=32 one (signs hash from (k, i)),
    * so both rides come from one projected column and the shrinking
    * error (~1/√m) is visible in one result. Per-pair errors floor to
    * integer millis before aggregation: all cross-row math is integer,
    * and the per-row doubles are bit-identical to the oracle's
    * list_reduce/list_inner_product replication (the q115 raw-IEEE
    * precedent), so floor() agrees bit-for-bit. */
  val q136JlProjection: Q = (spark, dir) => {
    def normOf(a: String, d: Int): String =
      s"""sqrt(aggregate(slice($a, 1, $d), CAST(0.0 AS DOUBLE),
         |    (s, v) -> s + v * v))""".stripMargin
    // per-ROW norms hoisted out of the pair loop: the old per-pair
    // cosine recomputed both sides' norms for every (probe, vector)
    // pair — the corpus norm 10× over, the probe norm once per corpus
    // row. Same sqrt(aggregate(...)) text, same IEEE result, computed
    // once per row instead of once per pair.
    val proj = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(
        """transform(sequence(0, 31), k ->
          |  aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, i) ->
          |    acc + IF(((k + 1) * (i + 7) * 2654435761) % 97 < 48,
          |        CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE)) *
          |      CAST(element_at(embedding, CAST(i + 1 AS INT)) AS DOUBLE)))
          |""".stripMargin).as("p"))
      .select(col("vec_id"), col("embedding"), col("p"),
        expr(normOf("p", 16)).as("n16"), expr(normOf("p", 32)).as("n32"))
    val q = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("p").as("qp"), col("n16").as("qn16"), col("n32").as("qn32"))
    def cosOf(a: String, b: String, na: String, nb: String,
        d: Int): String =
      s"""aggregate(zip_with(slice($a, 1, $d), slice($b, 1, $d),
         |    (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, v) -> s + v) /
         |($na * $nb)""".stripMargin
    proj.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
          .as("cf"),
        expr(cosOf("p", "qp", "n16", "qn16", 16)).as("cp16"),
        expr(cosOf("p", "qp", "n32", "qn32", 32)).as("cp32"))
      .selectExpr("q_id",
        "stack(2, 16, CAST(floor(abs(cf - cp16) * 1000) AS BIGINT), " +
          "32, CAST(floor(abs(cf - cp32) * 1000) AS BIGINT)) " +
          "AS (m, err_milli)")
      .groupBy(col("q_id"), col("m"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        expr("sum(err_milli) DIV count(1)").as("mean_err_milli"),
        max(col("err_milli")).as("max_err_milli"))
      .orderBy(col("q_id"), col("m"))
  }

  val q136Oracle: String = {
    def projSql(m: Int): String =
      s"""list_transform(range(0, $m), k ->
         |    list_reduce([CAST(0.0 AS DOUBLE)] ||
         |      list_transform(range(0, 64), i ->
         |        CASE WHEN ((k + 1) * (i + 7) * 2654435761) % 97 < 48
         |          THEN 1.0 ELSE -1.0 END * emb[CAST(i + 1 AS INT)]),
         |      (a, b) -> a + b))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       |  FROM embeddings),
       |pr AS (SELECT vec_id, emb, ${projSql(16)} AS p16,
       |    ${projSql(32)} AS p32 FROM e),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, p16 AS qp16,
       |    p32 AS qp32 FROM pr WHERE vec_id < 10),
       |pairs AS (SELECT q_id,
       |    list_inner_product(q_emb, pr.emb) /
       |      (sqrt(list_inner_product(q_emb, q_emb)) *
       |       sqrt(list_inner_product(pr.emb, pr.emb))) AS cf,
       |    list_inner_product(qp16, p16) /
       |      (sqrt(list_inner_product(qp16, qp16)) *
       |       sqrt(list_inner_product(p16, p16))) AS cp16,
       |    list_inner_product(qp32, p32) /
       |      (sqrt(list_inner_product(qp32, qp32)) *
       |       sqrt(list_inner_product(p32, p32))) AS cp32
       |  FROM pr, q WHERE pr.vec_id <> q_id),
       |st AS (SELECT q_id, 16 AS m,
       |    CAST(floor(abs(cf - cp16) * 1000) AS BIGINT) AS err
       |  FROM pairs
       |  UNION ALL SELECT q_id, 32,
       |    CAST(floor(abs(cf - cp32) * 1000) AS BIGINT) FROM pairs)
       |SELECT q_id, m, CAST(count(*) AS BIGINT) AS n_pairs,
       | CAST(sum(err) // count(*) AS BIGINT) AS mean_err_milli,
       | CAST(max(err) AS BIGINT) AS max_err_milli
       |FROM st GROUP BY q_id, m ORDER BY q_id, m""".stripMargin
  }

  // ---------------------------------------------------------------- q148
  /** kNN label-vote classification + per-class accuracy — the eval
    * that tells you whether the embedding space actually SEPARATES the
    * labels (q116 scores clusters, q128 scores a trained classifier;
    * this scores the space itself, the first thing a data team checks
    * before training on new embeddings). Each vector's label is
    * predicted by MAJORITY VOTE over its q92 kNN-graph neighbors —
    * composition, not recomputation: the candidate work stays the
    * Σ bucket² of the LSH graph build, and the vote/accuracy layers
    * are windows + one aggregate over the graph's 3·N edges. Ties
    * break on (count desc, label asc); vectors absent from the graph
    * (alone in their bucket) are excluded from the denominator,
    * exactly like production "coverage"-qualified recall numbers. */
  val q148KnnAccuracy: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val labels = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val votes = q92KnnGraph(spark, dir)
      .join(labels.withColumnRenamed("vec_id", "nbr")
        .withColumnRenamed("label", "nbr_label"), Seq("nbr"))
      .groupBy(col("node"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("n_votes").desc, col("nbr_label"))
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("node").as("vec_id"), col("nbr_label").as("pred"))
    pred.join(labels, Seq("vec_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label").cast("long").as("label"), col("n"),
        col("n_correct").cast("long").as("n_correct"),
        expr("(100 * n_correct) DIV n").as("accuracy_pct"))
      .orderBy(col("label"))
  }

  val q148Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
       |  FROM embeddings),
       |b AS (SELECT vec_id, emb, label, ${bucketSql(8)} AS bucket FROM e),
       |p AS (SELECT a.vec_id AS node, b2.vec_id AS nbr,
       |  list_inner_product(a.emb, b2.emb) /
       |    (sqrt(list_inner_product(a.emb, a.emb)) *
       |     sqrt(list_inner_product(b2.emb, b2.emb))) AS cos
       | FROM b a JOIN b b2 ON a.bucket = b2.bucket
       |   AND a.vec_id <> b2.vec_id),
       |r AS (SELECT node, nbr, row_number() OVER (
       |    PARTITION BY node ORDER BY cos DESC, nbr) AS rn FROM p),
       |g AS (SELECT node, nbr FROM r WHERE rn <= 3),
       |v AS (SELECT g.node, e.label AS nbr_label,
       |    CAST(count(*) AS BIGINT) AS n_votes
       |  FROM g JOIN e ON g.nbr = e.vec_id GROUP BY 1, 2),
       |pr AS (SELECT node AS vec_id, nbr_label AS pred FROM (
       |  SELECT *, row_number() OVER (PARTITION BY node
       |    ORDER BY n_votes DESC, nbr_label) AS rn FROM v) WHERE rn = 1)
       |SELECT CAST(e.label AS BIGINT) AS label,
       | CAST(count(*) AS BIGINT) AS n,
       | CAST(sum(CASE WHEN pr.pred = e.label THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_correct,
       | (100 * CAST(sum(CASE WHEN pr.pred = e.label THEN 1 ELSE 0 END)
       |   AS BIGINT)) // CAST(count(*) AS BIGINT) AS accuracy_pct
       |FROM pr JOIN e USING (vec_id)
       |GROUP BY e.label ORDER BY label""".stripMargin

  val keys: ListMap[String, Key] = ListMap(
    "q36_vector_norms" -> Key(q36VectorNorms, q36Oracle),
    "q37_cosine_topk" -> Key(q37CosineTopK, q37Oracle),
    "q38_lsh_buckets" -> Key(q38LshBuckets, q38Oracle),
    "q43_embedding_neardup" -> Key(q43EmbeddingNearDup, q43Oracle),
    "q44_ann_probe" -> Key(q44AnnProbe, q44Oracle),
    "q48_ivf_assign" -> Key(q48IvfAssign, q48Oracle),
    "q49_ivf_probe" -> Key(q49IvfProbe, q49Oracle),
    "q53_kmeans_centroids" -> Key(q53KmeansCentroids, q53Oracle),
    "q54_pq_adc" -> Key(q54PqAdc, q54Oracle),
    "q55_ivfpq_probe" -> Key(q55IvfPqProbe, q55Oracle),
    "q69_sq8_codes" -> Key(q69Sq8, q69Oracle),
    "q74_ann_recall" -> Key(q74AnnRecall, q74Oracle),
    "q92_knn_graph" -> Key(q92KnnGraph, q92Oracle),
    "q163_truncation_eval" -> Key(q163TruncationEval, q163Oracle),
    "q111_semdedup" -> Key(q111SemDedup, q111Oracle),
    "q115_hard_negatives" -> Key(q115HardNegatives, q115Oracle),
    "q116_cluster_purity" -> Key(q116ClusterPurity, q116Oracle),
    "q136_jl_projection" -> Key(q136JlProjection, q136Oracle),
    "q148_knn_accuracy" -> Key(q148KnnAccuracy, q148Oracle),
  )
}
