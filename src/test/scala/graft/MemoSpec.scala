package graft

/** [[Memo.prewarm]] covers every corpus build the registry reaches: after
  * it, building and collecting each query whose body uses a memoized
  * model, index table or staged stream input runs no new build. A build
  * added later without [[Memo.corpus]] would run here and fail the spec.
  * `sim_recall_clustered` is left out: its models are keyed by a fixture
  * file, not the corpus.
  */
class MemoSpec extends SparkSpec {

  test("after prewarm, no memoized registry query runs a build") {
    Memo.prewarm(spark, sf0001)
    val families = Seq("sim_", "text_bpe_", "pipeline_nb_", "stream_")
    val named = Set("pipeline_data_card_inc", "pipeline_source_cards_inc", "dedup_spans_inc")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => families.exists(n.startsWith) || named(n))
      .filterNot(_ == "sim_recall_clustered")
    assert(named.forall(names.contains) && families.forall(f => names.exists(_.startsWith(f))),
      "a query family or name this spec covers is missing from the registry")
    val built = names.filter { n =>
      val before = Memo.buildCount
      SparkEntry.queries(n)(spark, sf0001).collect()
      Memo.buildCount != before
    }
    assert(built.isEmpty, s"queries that ran a build after prewarm: ${built.mkString(", ")}")
  }
}
