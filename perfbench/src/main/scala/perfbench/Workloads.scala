package perfbench

/** The benchmark's workloads: fixed key lists, each a slice of one family
  * of `SparkEntry.queries`. README.md says why each key is in its slice. */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    // PFP itemsets, rules and sequences over memoized baskets
    "mining" -> Seq("fpm_fpgrowth", "fpm_assoc_rules", "fpm_prefixspan"),
    // fimi commits, log replay and change feed, plus micro-batches into a
    // fimi sink and over a change feed
    "table_io" -> Seq("fpm_fimi_changes", "stream_fimi_sink", "stream_fimi_changes"))

  /** Workloads whose keys write fimi tables or run streaming queries. */
  val storage: Set[String] = Set("table_io")
}
