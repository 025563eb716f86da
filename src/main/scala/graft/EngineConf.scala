package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory, [[session]], used by every main
  * (Bench, Verify, Dev, ScaleUp) and the test suites' session, and the
  * engine tuning it applies, [[tune]] (also applied by perfbench's own
  * session), so the timed, correctness and test surfaces run the
  * IDENTICAL engine configuration.
  *
  * r19 join tuning (optimization guide §3.1 / §9), two fixed knobs:
  *
  *  - `spark.sql.join.preferSortMergeJoin=false` — lets the planner pick
  *    shuffled-hash over sort-merge when its size conditions hold
  *    (skips sorting both sides; the guide's recommended baseline). The
  *    planner's own size conditions still guard the build side, so this
  *    is a preference, not a force.
  *  - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m` —
  *    AQE rewrites a planned sort-merge join to shuffled-hash at runtime
  *    when EVERY post-shuffle partition is under the threshold (64m =
  *    the advisory partition size, the documented pairing). This is the
  *    scale-adaptive knob: at 100 TB partitions exceed it and the join
  *    stays sort-merge (spill-safe); on small inputs the sorts vanish.
  *
  * Measured on the SMJ-planned keys at sf0.1/cpus=32 (TimeKeys A/B, two
  * windows): sql_tpch_q2 1.51→1.14 s, llm_corpus_export 1.43→1.15 s,
  * rel_merge_upsert 0.34→0.27 s, llm_semdedup 0.22→0.15 s, others
  * within noise, no measured regression (an apparent triangle_count
  * regression did not reproduce at 5 passes).
  *
  * Both are SQL confs: a probe of stock planning sets
  * `preferSortMergeJoin=true` and `maxShuffledHashJoinLocalMapThreshold=0`
  * on its session at runtime, as the skew-join specs do.
  *
  * Local storage: `file:` is always [[sources.LocalFs]] (FileSystem API)
  * and [[sources.LocalChecksumFs]] (FileContext API, which Structured
  * Streaming's offsets and commits logs use). Without the native-hadoop
  * library, stock Hadoop starts an OS process for every chmod (each
  * create and mkdirs), every permission or owner read (`ls -ld`) and
  * every link-status read (`readlink`, twice per FileContext rename);
  * these classes answer the same calls through java.nio, with the same
  * FileStatus fields and the same `.crc` checksum files. Median of 200
  * calls on a 4-core host, JDK 17, Hadoop 3.4.2:
  *
  *   operation                          stock      java.nio
  *   create + close (with .crc)         5.3 ms     0.3–0.4 ms
  *   mkdirs                             2.4 ms     0.06–0.11 ms
  *   getFileStatus(..).getPermission    2.8 ms     0.02–0.04 ms
  *
  * The setting has no switch: the stock classes do the same I/O, only
  * slower. It must sit on the session builder, because Hadoop's
  * FileSystem cache is JVM-wide and keyed by scheme, authority and user
  * only: the first `file:` FileSystem created in the JVM is the one every
  * later caller gets, whatever its own configuration says.
  */
object EngineConf {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC and no
    * UI, tuned by [[tune]]; `extra` confs go on the builder last. */
  def session(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = tune(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl", classOf[sources.LocalFs].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[sources.LocalChecksumFs].getName)
    .config("spark.sql.join.preferSortMergeJoin", "false")
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
}
