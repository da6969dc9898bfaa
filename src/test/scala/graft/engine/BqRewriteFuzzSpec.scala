package graft.engine

import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.scalacheck.{Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BQCompat

/** Property-fuzz of the BigQuery-dialect textual rewriter (r8 verdict
  * task 7): [[BQCompat.rewriteBqSyntax]] was spec-tested on curated
  * cases; these properties fire 1000+ randomized queries whose string
  * literals, backtick identifiers and comments carry ADVERSARIAL
  * payloads — `SAFE_CAST(`, `UNNEST([…])`, stray `]`, `AS INT64)`,
  * comment markers, quote-escape soup, even the masker's own
  * placeholder bytes — and assert the lexer-masked rewrite is a
  * semantic no-op:
  *
  *  1. a Spark-dialect query (no BQ construct outside protected
  *     regions) survives rewriting BYTE-IDENTICAL, whatever its
  *     literals/comments contain;
  *  2. a real SAFE_CAST wrapped around an adversarial literal rewrites
  *     to exactly TRY_CAST + mapped type, the payload verbatim;
  *  3. a real UNNEST([…]) whose array elements are adversarial string
  *     literals rewrites to the explode(array(…)) subquery with every
  *     element intact (a `]` inside a quoted element must not
  *     terminate the bracket match).
  */
class BqRewriteFuzzSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1000), p)
    assert(res.passed, res.status.toString)
  }

  // ----------------------------------------------------------- generators

  /** Payload text designed to troll every rewrite pattern. */
  private val adversarialText: Gen[String] = Gen.oneOf(
    "SAFE_CAST(x AS INT64)",
    "UNNEST([1, 2, 3]) AS t",
    "UNNEST([",
    "] closing",
    "AS INT64)",
    "AS BOOL)",
    "as numeric)",
    "safe_cast(",
    "-- line comment text",
    "/* block */",
    "*/",
    "`backtick`",
    "it's quoted",
    "say \"hi\"",
    "\u00010\u0002",  // the masker's own placeholder shape
    "\u00017\u0002 AS INT64)",
    "newline\nUNNEST([9])",
    "")

  /** The same payload as a correctly-escaped SQL string literal, in a
    * random quoting style: single or double quotes, with the quote char
    * escaped by doubling or backslash.
    */
  private val adversarialLiteral: Gen[String] = for {
    text <- adversarialText
    dq <- Gen.oneOf(true, false)
    backslash <- Gen.oneOf(true, false)
  } yield {
    val q = if (dq) '"' else '\''
    val esc = if (backslash) s"\\$q" else s"$q$q"
    q + text.replace("\\", "\\\\").replace(q.toString, esc) + q
  }

  /** A backtick identifier with hostile content (no backtick inside —
    * BQ has no escape for it).
    */
  private val adversarialBacktick: Gen[String] =
    adversarialText.map(t => "`" + t.replace("`", "").replace("\n", " ") + "`")

  /** Line or block comment carrying a payload. */
  private val adversarialComment: Gen[String] = for {
    text <- adversarialText
    block <- Gen.oneOf(true, false)
  } yield
    if (block) "/* " + text.replace("*/", "* /") + " */"
    else "-- " + text.replace("\n", " ") + "\n"

  /** A Spark-dialect SELECT whose only BQ-trigger-shaped bytes live in
    * protected regions (literals, backtick names, comments).
    */
  private val sparkDialectQuery: Gen[String] = for {
    lit1 <- adversarialLiteral
    lit2 <- adversarialLiteral
    id <- adversarialBacktick
    cmt <- adversarialComment
    n <- Gen.chooseNum(0, 999)
  } yield
    s"SELECT $lit1 AS a, $id, c + $n $cmt FROM t WHERE d = $lit2 ORDER BY 1"

  // ------------------------------------------------------------ properties

  test("Spark-dialect queries survive the rewrite byte-identical (1000 adversarial cases)") {
    check(forAll(sparkDialectQuery) { q =>
      BQCompat.rewriteBqSyntax(q) == q
    })
  }

  test("SAFE_CAST around an adversarial literal rewrites to TRY_CAST + mapped type, payload verbatim") {
    val tyMap = Seq("INT64" -> "BIGINT", "FLOAT64" -> "DOUBLE", "BOOL" -> "BOOLEAN",
      "BYTES" -> "BINARY", "NUMERIC" -> "DECIMAL(38,9)", "STRING" -> "STRING")
    val cases = for {
      lit <- adversarialLiteral
      (bq, sp) <- Gen.oneOf(tyMap)
      cmt <- adversarialComment
    } yield (lit, bq, sp, cmt)
    check(forAll(cases) { case (lit, bq, sp, cmt) =>
      val q = s"SELECT SAFE_CAST($lit AS $bq) AS v $cmt FROM t"
      val expected = s"SELECT TRY_CAST($lit AS $sp) AS v $cmt FROM t"
      BQCompat.rewriteBqSyntax(q) == expected
    })
  }

  test("UNNEST([...]) with adversarial string elements rewrites to explode(array(...)), elements intact") {
    val cases = for {
      elems <- Gen.nonEmptyListOf(adversarialLiteral).map(_.take(4))
      aliased <- Gen.oneOf(true, false)
    } yield (elems, aliased)
    check(forAll(cases) { case (elems, aliased) =>
      val arr = elems.mkString(", ")
      val (tail, alias) = if (aliased) (" AS x", "x") else ("", "col")
      val q = s"SELECT * FROM UNNEST([$arr])$tail"
      val expected = s"SELECT * FROM (SELECT explode(array($arr)) AS $alias)"
      BQCompat.rewriteBqSyntax(q) == expected
    })
  }
}
