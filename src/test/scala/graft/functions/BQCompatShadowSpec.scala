package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Override-shadowing sweep (§2 25ji-class hardening, r12 verdict task
  * 8): BQCompat.dialectOverrides CHANGES the semantics of Spark builtin
  * names (`split` regex→literal delimiter, `regexp_extract` ''→NULL) for
  * any SQL string analyzed inside a dialect session (every engine
  * session). The r12 bug class was operator
  * SQL written for Spark semantics silently picking up the override when
  * run through the engine. This spec mechanically walks every
  * DAG-registered operator SQL string in src/main (the strings that DO
  * run inside dialect sessions) plus every single-line `expr(`/
  * `selectExpr(` source occurrence, and fails on any overridden-name
  * call that is not PROVABLY semantics-identical under both registries:
  *
  *  - `split(x, '<lit>')` is identical iff the literal delimiter
  *    contains no regex metacharacter (then Spark's regex split and
  *    BigQuery's literal split agree) — checked mechanically;
  *  - every other overridden-name use must appear in the adjudicated
  *    whitelist below (currently empty) with a comment proving it.
  *
  * The overridden-name set is read from BQCompat.dialectOverrides at
  * test time, so ADDING an override automatically widens the sweep.
  */
class BQCompatShadowSpec extends AnyFunSuite {

  private val overridden: Set[String] =
    BQCompat.dialectOverrides.map(_._1).toSet

  /** Every registered derived-stage SQL that executes inside a dialect
    * session (GraftRpc/DirectoryCatalog SQL is runtime user input — the
    * USER writes BigQuery dialect there by contract, nothing to vet).
    */
  private val dagSql: Seq[(String, String)] =
    graft.queries.EngineQueries.DagSqls ++ graft.queries.PipelineE2E2.DagSqls

  /** (table, overridden name) uses adjudicated BY HAND as
    * semantics-identical for reasons the mechanical check can't see.
    */
  private val whitelist: Set[(String, String)] = Set()

  private val regexMeta = """\^$.|?*+()[]{}""".toSet

  test("dialectOverrides still covers the names this sweep was written for") {
    assert(Set("split", "regexp_extract").subsetOf(overridden))
  }

  test("DAG-registered operator SQL uses overridden names only in vetted shapes") {
    val problems = for {
      (table, sql) <- dagSql
      name <- overridden
      m <- ("""(?i)\b""" + name + """\s*\(""").r.findAllMatchIn(sql).toSeq
      if !whitelist.contains((table, name))
      problem <- vet(name, sql, m.start)
    } yield s"$table: $problem"
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  /** None = provably identical semantics; Some(msg) = unvetted. */
  private def vet(name: String, sql: String, at: Int): Option[String] = name match {
    case "split" =>
      // Match split(<arg-without-commas/parens>, '<literal>') at this
      // occurrence; then the BQ-literal and Spark-regex interpretations
      // agree iff the literal has no regex metacharacter.
      val lit = """(?is)\bsplit\s*\(\s*[^,()']+\s*,\s*'([^']*)'\s*\)""".r
      lit.findPrefixMatchOf(sql.substring(at)) match {
        case Some(m) if m.group(1).forall(c => !regexMeta.contains(c)) => None
        case Some(m) => Some(
          s"split delimiter '${m.group(1)}' contains a regex metacharacter — " +
            "Spark-regex and BigQuery-literal semantics diverge; adjudicate or rewrite")
        case None => Some(
          s"split call at offset $at is not a literal-delimiter shape the sweep " +
            s"can prove identical: ...${sql.substring(at, math.min(at + 60, sql.length))}...")
      }
    case other => Some(
      s"'$other' is dialect-overridden and this call shape has no mechanical proof; " +
        "whitelist it with an adjudication comment or rewrite via Catalyst builders " +
        "(GraftFunctions.regexSplit pattern)")
  }

  test("no single-line expr()/selectExpr() source string calls an overridden name") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i)
            if (line.contains("expr(") || line.contains("selectExpr(")) &&
              overridden.exists(n => line.toLowerCase.contains(n + "(")) =>
            s"$p:${i + 1}: $line"
        }
      }.toSeq
    // Multi-line expr strings evade a line scan — the DAG-SQL walk above
    // covers the registered surfaces; this catches the ad-hoc ones.
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
