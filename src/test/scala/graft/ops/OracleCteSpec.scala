package graft.ops

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Guards the oracle texts against CTE shapes that an inlining planner
  * (DuckDB inlines every CTE not declared MATERIALIZED) expands
  * exponentially: a CTE referenced twice by a CTE that is itself
  * referenced twice, and so on down a chain. */
class OracleCteSpec extends AnyFunSuite {
  import OracleCteSpec._

  test("no oracle text inlines any CTE more than MaxCopies times") {
    val over = SparkEntry.oracleSql.toSeq.flatMap { case (key, sql) =>
      inlinedCopies(sql).collect {
        case (cte, n) if n > MaxCopies => s"$key: $cte x$n"
      }
    }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("q88 without MATERIALIZED doubles per k-core round and fails") {
    val old = GraphOps.q88Oracle.replace(" AS MATERIALIZED (", " AS (")
    assert(!old.contains("MATERIALIZED"))
    val copies = inlinedCopies(old)
    assert(copies("s8") == 2 && copies("s7") == 4 && copies("s0") == 512,
      copies)
    assert(copies.values.max > MaxCopies)
    assert(inlinedCopies(GraphOps.q88Oracle).values.max <= 1)
  }

  test("a single self-join (q43's `b a JOIN b b2`) passes") {
    val copies = inlinedCopies(SimilarityOps.q43Oracle)
    assert(copies("b") == 2 && copies("e") == 2, copies)
  }

  test("the counter: chains multiply, MATERIALIZED counts once, " +
      "qualified names, strings and comments are not references") {
    val sql =
      """WITH a AS (SELECT 1 AS x),
        |b AS (SELECT a.x FROM a JOIN a a2 ON a.x = a2.x),
        |c AS MATERIALIZED (SELECT * FROM b, b b3),
        |d AS (SELECT 'FROM a' AS s FROM c JOIN c c2 ON true) -- FROM d
        |SELECT * FROM d JOIN d d2 ON true JOIN c ON true""".stripMargin
    assert(inlinedCopies(sql) == Map("d" -> 2, "c" -> 1, "b" -> 2,
      "a" -> 4))
  }
}

object OracleCteSpec {
  /** Copies of one CTE body that inlining may make before the guard
    * fails. The largest in the inventory is q77's edge list (li: 36
    * copies through three self-joins), which DuckDB plans in seconds at
    * sf0.1; q88's unmaterialized k-core rounds made 512 copies of s0. */
  val MaxCopies = 64

  private val Word = "[A-Za-z_][A-Za-z0-9_]*"
  private val Def = ("(?i)(" + Word + ")\\s*(?:\\([^()]*\\))?\\s+AS\\s+" +
    "((?:NOT\\s+)?MATERIALIZED\\s+)?\\(").r

  /** For every CTE of `sql`, how many copies of its body the query holds
    * once every CTE not declared MATERIALIZED is inlined: a reference
    * from the main query counts once, a reference from a CTE counts as
    * often as that CTE is copied, and a MATERIALIZED CTE is one copy
    * however often it is referenced. A reference is a CTE name after
    * FROM, JOIN or a comma that is not followed by a dot, a call, a
    * lambda arrow or an operator (a column or lambda parameter that
    * shares the CTE's name). */
  def inlinedCopies(sql: String): Map[String, Int] = {
    val text = blankStringsAndComments(sql)
    case class Cte(name: String, materialized: Boolean, at: Int, from: Int,
        to: Int)
    val ctes = Def.findAllMatchIn(text).filter { m =>
      val before = text.substring(0, m.start).trim
      before.endsWith(",") || before.toUpperCase.matches(
        "(?s).*\\b(WITH|RECURSIVE)$")
    }.map { m =>
      Cte(m.group(1).toLowerCase,
        Option(m.group(2)).exists(g => !g.toUpperCase.startsWith("NOT")),
        m.start, m.end, closingParen(text, m.end - 1))
    }.toSeq
    val definitions = ctes.map(_.at).toSet
    // the innermost CTE body a position lies in (None: the main query)
    def owner(pos: Int): Option[Cte] =
      ctes.filter(c => c.from <= pos && pos < c.to).sortBy(c => c.to - c.from)
        .headOption
    val refs = mutable.Map.empty[(Option[String], String), Int]
      .withDefaultValue(0)
    ctes.map(_.name).distinct.foreach { name =>
      val ref = ("(?i)(?:\\bFROM|\\bJOIN|,)\\s+" + name +
        "\\b(?!\\s*(?:[.(]|->|[-+*/%=<>|]))").r
      ref.findAllMatchIn(text).map(_.end - name.length)
        .filterNot(definitions).foreach { at =>
          val from = owner(at).map(_.name)
          if (!from.contains(name)) refs((from, name)) += 1
        }
    }
    val byName = ctes.groupBy(_.name).map { case (n, cs) => n -> cs.head }
    val memo = mutable.Map.empty[String, Int]
    val open = mutable.Set.empty[String]
    def copies(name: String): Int = memo.getOrElse(name, {
      require(open.add(name), s"CTE reference cycle through $name")
      val n = refs.toSeq.collect { case ((from, `name`), k) =>
        k * from.fold(1) { r =>
          val c = copies(r)
          if (byName(r).materialized) math.min(c, 1) else c
        }
      }.sum
      open -= name
      memo(name) = n
      n
    })
    byName.keys.map(n => n -> {
      val c = copies(n)
      if (byName(n).materialized) math.min(c, 1) else c
    }).toMap
  }

  /** `sql` with string literals and `--` comments overwritten by spaces,
    * so neither can hold a reference or a parenthesis. */
  private def blankStringsAndComments(sql: String): String = {
    val out = sql.toCharArray
    var i = 0
    while (i < out.length) {
      if (out(i) == '\'') {
        i += 1
        while (i < out.length && out(i) != '\'') { out(i) = ' '; i += 1 }
        i += 1
      } else if (out(i) == '-' && i + 1 < out.length && out(i + 1) == '-') {
        while (i < out.length && out(i) != '\n') { out(i) = ' '; i += 1 }
      } else i += 1
    }
    new String(out)
  }

  /** The index of the parenthesis closing the one at `open`. */
  private def closingParen(text: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < text.length) {
      text(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    text.length
  }
}
