package graft

import org.scalatest.funsuite.AnyFunSuite

/** The generated operator catalog (docs/OPERATORS.md) cannot drift
  * from the live inventory: every `SparkEntry.queries` key must appear
  * in the page. Regenerate with `python3 tools/gen_catalog.py` — after
  * the plan ledger, whose entry names the generator reads. */
class CatalogSpec extends AnyFunSuite {

  test("docs/OPERATORS.md names every SparkEntry entry") {
    val f = new java.io.File("docs/OPERATORS.md")
    assert(f.exists(), "docs/OPERATORS.md missing — run tools/gen_catalog.py")
    val text = scala.io.Source.fromFile(f, "UTF-8").mkString
    val missing = SparkEntry.queries.keySet
      .filterNot(n => text.contains(s"`$n`")).toSeq.sorted
    assert(missing.isEmpty,
      s"catalog is stale, missing: $missing — regenerate the plan ledger " +
        "first (GRAFT_UPDATE_LEDGER=1 sbt \"testOnly graft.operators.LedgerSpec\"; " +
        "tools/gen_catalog.py takes its entry names from " +
        "ledger/plan_fingerprints.tsv), then run tools/gen_catalog.py")
  }
}
