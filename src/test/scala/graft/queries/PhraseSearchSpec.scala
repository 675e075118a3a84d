package graft.queries

import graft.SparkSpec

/** Pins q145's size-adaptive census (r15): the window arm (local
  * winner below the cutover) and the zip_with-over-arrays arm (fewer
  * shuffles above it) must produce identical rows, and the dispatch
  * must route each side of the cutover to the intended arm. */
class PhraseSearchSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("window and array census arms produce identical rows") {
    // each arm by name, regardless of the fixture's size
    val win = RetrievalQueries.windowPhraseSearch(docs).collect().toSeq
    val arr = RetrievalQueries.arrayPhraseSearch(docs).collect().toSeq
    assert(win.nonEmpty, "fixture must exercise the phrase probe")
    assert(win == arr)
  }

  test("dispatch: window arm below the cutover, array arm above") {
    import org.apache.spark.sql.execution.FormattedMode
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(FormattedMode)
    // the window arm's census runs two leads over a per-doc window; the
    // array arm has no Window operator anywhere in its lineage
    assert(planOf(RetrievalQueries.windowPhraseSearch(docs)).contains("Window"),
      "small input must take the window census")
    assert(!planOf(RetrievalQueries.arrayPhraseSearch(docs)).contains("Window"),
      "large input must take the window-free array census")
    // default cutover on the tiny fixture routes to the window arm
    assert(RetrievalQueries.phraseSearch(docs)
      .queryExecution.explainString(FormattedMode).contains("Window"))
  }
}
