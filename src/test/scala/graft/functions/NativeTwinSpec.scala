package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.ops.SimilarityOps

/** Declarative (higher-order-function) twins of the native expressions:
  * the reference each kernel must match bit for bit. */
object DeclarativeTwins {

  /** The per-plane `sequence` + `zip_with` + `aggregate` composition that
    * computed the LSH bucket signature before [[LshBucket]]. */
  def lshBucket(emb: Column, nPlanes: Int): Column = {
    def planeBit(p: Int): Column = {
      val prods = zip_with(emb,
        sequence(lit(0), size(emb) - 1),
        (v, d) => v.cast("double") *
          (shiftright(d * 2654435761L + lit((p + 1) * 40503L) + d * lit(p * 97L), 7)
            .bitwiseAND(lit(1L)) * 2 - 1).cast("double"))
      when(aggregate(prods, lit(0.0), (a, x) => a + x) >= 0, lit(1)).otherwise(lit(0))
    }
    (0 until nPlanes).map(p => planeBit(p) * (1 << p))
      .reduce(_ + _).cast("long")
  }

  /** dot / (|a| * |b|), NULL on a zero denominator. */
  def cosine(a: Column, b: Column): Column =
    try_divide(SimilarityOps.dot(a, b),
      SimilarityOps.l2norm(a) * SimilarityOps.l2norm(b))
}

/** Native kernels against their declarative twins on generated vectors,
  * under whole-stage codegen and under the interpreted evaluator. */
class NativeTwinSpec extends SparkSpec {

  /** One generated input: element type, plane count, and rows of two
    * vectors, mostly of equal length (`None` = NULL array or element). */
  private case class Case(float: Boolean, containsNull: Boolean, nPlanes: Int,
      rows: List[(Option[List[Option[Double]]], Option[List[Option[Double]]])])

  private val modes = Seq(
    "whole-stage codegen" -> Map.empty[String, String],
    "interpreted" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The ±1 coefficient of hyperplane p at dimension d (LshBucket's s). */
  private def sign(p: Int, d: Int): Double =
    ((((d * 2654435761L + (p + 1) * 40503L + d * (p * 97L)) >> 7) & 1L) * 2L - 1L)
      .toDouble

  private val finite: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-1e3, 1e3),
    3 -> Gen.choose(-2, 2).map(_.toDouble), // small integers: exact ties
    1 -> Gen.oneOf(-0.0, 0.0, 1e-30, -1e-30, 1e30, Double.MaxValue,
      -Double.MaxValue))
  private val special: Gen[Double] = Gen.frequency(
    4 -> finite,
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity))

  /** A vector whose plane-p sum is exactly zero: each pair (2k, 2k+1)
    * contributes x·s - x·s (the `v` with `-v` shape). */
  private def zeroSum(n: Int, p: Int): Gen[List[Double]] =
    Gen.listOfN(n, Gen.choose(-2, 2).map(_.toDouble)).map { xs =>
      xs.zipWithIndex.map { case (x, d) =>
        if (d % 2 == 1) -sign(p, d - 1) * sign(p, d) * xs(d - 1)
        else if (d == n - 1) 0.0 // the unpaired last element of an odd n
        else x
      }
    }

  private def withNulls(v: List[Double], containsNull: Boolean)
      : Gen[List[Option[Double]]] =
    if (!containsNull || v.isEmpty) Gen.const(v.map(Some(_)))
    else Gen.frequency(
      3 -> Gen.const(v.map(Some(_))),
      1 -> Gen.choose(0, v.size - 1).map(i =>
        v.map(Some(_): Option[Double]).updated(i, None)))

  private def pairGen(containsNull: Boolean, nPlanes: Int)
      : Gen[(Option[List[Option[Double]]], Option[List[Option[Double]]])] =
    for {
      n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.choose(1, 3),
        6 -> Gen.choose(0, 130))
      m <- Gen.frequency(6 -> Gen.const(n), 1 -> Gen.choose(0, 130))
      p <- Gen.choose(0, nPlanes - 1)
      a <- Gen.frequency(5 -> Gen.listOfN(n, finite),
        2 -> Gen.listOfN(n, special), 2 -> zeroSum(n, p))
      b <- Gen.frequency(3 -> Gen.listOfN(m, finite),
        1 -> Gen.listOfN(m, special), 1 -> Gen.const(a),
        1 -> Gen.const(a.map(-_)), 1 -> Gen.const(List.fill(m)(0.0)),
        1 -> Gen.choose(0, n).map(a.take)) // a prefix: the truncation case
      an <- withNulls(a, containsNull)
      bn <- withNulls(b, containsNull)
      aNull <- Gen.frequency(12 -> false, 1 -> true)
      bNull <- Gen.frequency(12 -> false, 1 -> true)
    } yield (if (aNull) None else Some(an), if (bNull) None else Some(bn))

  private val caseGen: Gen[Case] = for {
    float <- Gen.oneOf(true, false)
    containsNull <- Gen.frequency(3 -> true, 1 -> false)
    nPlanes <- Gen.frequency(1 -> Gen.const(8), 1 -> Gen.const(30),
      3 -> Gen.choose(1, 30))
    rows <- Gen.choose(1, 24).flatMap(k =>
      Gen.listOfN(k, pairGen(containsNull, nPlanes)))
  } yield Case(float, containsNull, nPlanes, rows)

  /** The case as an RDD-backed frame (id, a, b), so the projection runs
    * in a whole-stage-codegen span rather than being folded on the
    * driver. */
  private def frame(c: Case): DataFrame = {
    val vt = ArrayType(if (c.float) FloatType else DoubleType, c.containsNull)
    def arr(v: Option[List[Option[Double]]]): Any = v.map(_.map {
      case Some(x) => if (c.float) x.toFloat: Any else x
      case None    => null
    }).orNull
    val rows = c.rows.zipWithIndex.map { case ((a, b), i) =>
      Row(i.toLong, arr(a), arr(b)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("a", vt), StructField("b", vt))))
  }

  private def bits(d: Any): Any = d match {
    case x: Double => java.lang.Double.doubleToLongBits(x)
    case other     => other
  }

  /** Rows where native and twin differ, described with their inputs. */
  private def mismatches(c: Case): Seq[String] = modes.flatMap {
    case (mode, conf) => withConf(conf) {
      val in = frame(c)
      val native = in.select(col("id"),
        LshBucket(col("a"), c.nPlanes), CosineSimilarity(col("a"), col("b")))
      // the twin on its own: its lambdas can push a shared projection
      // past the codegen size limits
      val twin = in.select(col("id"),
        DeclarativeTwins.lshBucket(col("a"), c.nPlanes),
        DeclarativeTwins.cosine(col("a"), col("b")))
      val got = native.collect().map(r => r.getLong(0) -> r).toMap
      if (conf.isEmpty) {
        val plan = native.queryExecution.executedPlan.toString
        assert(plan.linesIterator.exists(l => l.contains("*(") &&
          l.contains("lshbucket(") && l.contains("cosinesimilarity(")), plan)
      }
      twin.collect().toSeq.flatMap { t =>
        val r = got(t.getLong(0))
        val (a, b) = c.rows(t.getLong(0).toInt)
        Seq("lsh" -> 1, "cosine" -> 2).collect {
          case (what, i) if bits(r.get(i)) != bits(t.get(i)) =>
            s"[$mode] $what nPlanes=${c.nPlanes} float=${c.float} " +
              s"a=$a b=$b native=${r.get(i)} twin=${t.get(i)}"
        }
      }
    }
  }

  test("LshBucket and CosineSimilarity equal their declarative twins on " +
      "generated vectors, with and without whole-stage codegen") {
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      val bad = mismatches(c)
      Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
    }
    val result = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(20261019L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("LshBucket pins: NULL, empty and NULL-element inputs give 0; NaN and " +
      "-0.0 sums count as >= 0") {
    val cases = Seq[(Option[List[Option[Double]]], Long)](
      None -> 0L,
      Some(Nil) -> 0L,
      Some(List(Some(1.0), None)) -> 0L,
      Some(List(Some(Double.NaN), Some(1.0))) -> 255L,
      Some(List(Some(-0.0))) -> 255L,
      Some(List(Some(1.0), Some(-2.0), Some(3.0))) -> 207L)
    for (float <- Seq(true, false); (_, conf) <- modes) withConf(conf) {
      val c = Case(float, containsNull = true, 8, cases.map(v => (v._1, v._1)).toList)
      val got = frame(c).select(LshBucket(col("a"), 8),
        DeclarativeTwins.lshBucket(col("a"), 8)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == cases.map(v => (v._2, v._2)), s"float=$float $conf")
    }
  }

  test("CosineSimilarity is NULL when either input has a NULL element") {
    val v = Some(List(Some(1.0), None, Some(2.0)))
    val w = Some(List(Some(3.0), Some(4.0), Some(0.0)))
    for ((_, conf) <- modes) withConf(conf) {
      val c = Case(float = false, containsNull = true, 8,
        List(v -> v, v -> w, w -> v, w -> w))
      val got = frame(c).select(CosineSimilarity(col("a"), col("b")))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(got.toSeq.take(3) == Seq(None, None, None), conf)
      assert(got(3).contains(1.0), conf)
    }
  }

  test("LshBucket rejects non-float arrays and plane counts outside 1..30") {
    intercept[IllegalArgumentException](LshBucket(col("a"), 0))
    intercept[IllegalArgumentException](LshBucket(col("a"), 31))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(LshBucket(array(lit(1), lit(2)), 8)).collect())
    assert(e.getMessage.contains("lsh_bucket requires an array<float|double>"),
      e.getMessage)
  }
}
