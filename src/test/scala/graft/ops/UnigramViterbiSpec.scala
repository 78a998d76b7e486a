package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.UnigramViterbi

/** Pins the native Viterbi expression (q173's E-step) EXACTLY
  * equivalent to the 40-column SQL cascade it replaced — the cascade
  * text the DuckDB oracle still replays, so this equivalence is what
  * carries the q173 hash gate. All-int64 fixed-point scores mean the
  * equality is exact, not approximate. */
class UnigramViterbiSpec extends SparkSpec {

  /** The pre-r17 Spark rendering of the cascade: model as a map column,
    * one withColumn per cascade cell — the reference implementation. */
  private def cascadeSegment(words: DataFrame,
      model: Map[String, Long]): DataFrame = {
    val look = (k: String) =>
      s"coalesce(try_element_at(m, $k), ${TextOps.UnigramMiss})"
    val arrF = (pcs: Seq[String]) =>
      s"filter(array(${pcs.mkString(", ")}), x -> x IS NOT NULL)"
    var df = words.withColumn("m", typedLit(model))
    TextOps.unigramCascade(look, arrF).flatten.foreach { case (n, e) =>
      df = df.withColumn(n, expr(e))
    }
    df.select(col("w"), col("vbest"), col("pcs"))
  }

  private def nativeSegment(words: DataFrame,
      model: Map[String, Long]): DataFrame =
    words.select(col("w"),
      UnigramViterbi(col("w"), typedLit(model)).as("v"))
      .select(col("w"), col("v").getField("vbest").as("vbest"),
        col("v").getField("pcs").as("pcs"))

  private def collectBoth(words: Seq[String], model: Map[String, Long])
      : (Map[String, (Option[Long], Seq[String])],
         Map[String, (Option[Long], Seq[String])]) = {
    val df = spark.createDataFrame(words.map(Tuple1(_))).toDF("w")
    def toMap(out: DataFrame) = out.collect().map { r =>
      r.getString(0) -> (
        (if (r.isNullAt(1)) None else Some(r.getLong(1))),
        r.getSeq[String](2).toSeq)
    }.toMap
    (toMap(cascadeSegment(df, model)), toMap(nativeSegment(df, model)))
  }

  test("native Viterbi ≡ SQL cascade, exhaustively over a 3-letter " +
      "alphabet with misses, ties, and multi-char pieces") {
    // 'c' is deliberately ABSENT from the model: every segmentation
    // through a c-piece scores UnigramMiss — the null-vs-0 unboxing
    // trap (a missing piece scoring 0 would beat every present piece
    // and silently change segmentations).
    val model = Map(
      "a" -> -1024L, "b" -> -2048L,
      "ab" -> -3072L,  // == sc(a)+sc(b): exact TIE — longest must win
      "ba" -> -1500L,  // strictly better than b+a
      "aab" -> -9000L, // worse than any split: must lose
      "abab" -> -4096L // 4-char piece, better than ab+ab
    )
    val alpha = Seq("a", "b", "c")
    val words = (1 to 5).flatMap(n =>
      Seq.fill(n)(alpha).foldLeft(Seq("")) { (acc, cs) =>
        acc.flatMap(p => cs.map(p + _))
      }) ++ Seq("ababab", "abababa", "abababab", // lengths 6-8
        "aaaaaaab", "caaaaaab", "bbbbbbbb")
    val (ref, got) = collectBoth(words, model)
    assert(ref.keySet == got.keySet)
    ref.foreach { case (w, expected) =>
      assert(got(w) == expected, s"word '$w': ${got(w)} vs $expected")
    }
    // tie-break sanity: "ab" segments as the ONE 2-char piece, not a+b
    assert(got("ab")._2 == Seq("ab"))
    // and the backtrack emits END-of-word-first
    assert(got("aba")._2 == Seq("ba", "a"))
  }

  test("multibyte codepoints: length/substr are codepoint-based in " +
      "both renderings") {
    val model = Map("é" -> -100L, "日" -> -200L, "é日" -> -250L,
      "x" -> -50L)
    val words = Seq("é", "日", "é日", "日é", "xé日x", "éééééééé")
    val (ref, got) = collectBoth(words, model)
    ref.foreach { case (w, expected) =>
      assert(got(w) == expected, s"word '$w': ${got(w)} vs $expected")
    }
  }

  test("out-of-range words (len 0 or >8) yield (null, empty) in both " +
      "renderings") {
    val model = Map("a" -> -1024L)
    val words = Seq("", "aaaaaaaaa", "aaaaaaaaaaaa") // 0, 9, 12 chars
    val (ref, got) = collectBoth(words, model)
    words.foreach { w =>
      assert(ref(w) == ((None, Seq.empty[String])), s"cascade on '$w'")
      assert(got(w) == ((None, Seq.empty[String])), s"native on '$w'")
    }
  }

  test("a NULL word yields (null, empty) in both renderings, never a " +
      "NULL struct") {
    val model = Map("a" -> -1024L)
    val df = spark.createDataFrame(Seq(Tuple1(null: String), Tuple1("a")))
      .toDF("w")
    def rows(out: DataFrame) = out.filter(col("w").isNull).collect().map {
      r => (Option(r.get(1)), Option(r.getSeq[String](2)).map(_.toSeq))
    }.toSeq
    val expected = Seq((None, Some(Seq.empty[String])))
    assert(rows(cascadeSegment(df, model)) == expected, "cascade")
    assert(rows(nativeSegment(df, model)) == expected, "native")
    val v = df.select(UnigramViterbi(col("w"), typedLit(model)).as("v"))
    assert(!v.schema("v").nullable)
  }

  test("the model must be a foldable literal map") {
    val df = spark.createDataFrame(Seq(Tuple1("ab"))).toDF("w")
    val err = intercept[Exception] {
      df.select(UnigramViterbi(col("w"),
        map(col("w"), lit(1L)))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable"))
  }

  test("q173 plan carries the native expression, not the cascade (no " +
      "40-column Project chain), and stays oracle-shaped") {
    val out = TextOps.q173UnigramLm(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    // the staged (localCheckpoint) result is a scan, and the cascade's
    // bp/pos columns are nowhere in any live plan
    assert(!plan.contains("bp8") && !plan.contains("pos7"), plan)
    assert(out.columns.toSeq ==
      Seq("piece", "est_cnt", "loss1", "loss2"))
  }
}
