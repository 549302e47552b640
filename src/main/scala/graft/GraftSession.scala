package graft

import org.apache.spark.sql.SparkSession

/** User-facing session factory: the configuration this engine is designed
  * for, and the only place the engine configures a session — nothing
  * writes a session conf after start. Local threads default to the
  * machine; on a cluster the same builder settings apply (AQE handles
  * runtime re-planning, UTC pins time semantics, the extension registers
  * the native functions). `spark.newSession()` inherits every setting.
  */
object GraftSession {
  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // r15: the default 100-entry whole-stage-codegen class cache
      // thrashes on long multi-query sessions (this engine's own surface
      // is 340+ distinct plan shapes), recompiling Janino classes that
      // were hot minutes ago. Generated classes are KB-sized; 1000
      // entries is still a bounded few MB and is workload-, not
      // scale-dependent (a cluster driver benefits identically).
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // InferFiltersFromGenerate synthesizes a `size(e) > 0 AND
      // isnotnull(e)` pre-filter under every explode — for the text
      // operators `e` is an interpreted higher-order shingle expression,
      // so the inferred filter TRIPLES its evaluation and prunes nothing.
      // Measured on llm_ngram_jaccard at sf0.1: 4.5 s → 1.9 s warm.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // older fixture generations store events.ts as TIMESTAMP(NANOS),
      // which Spark reads only as raw int64 (normalized in Tables.load);
      // it must hold before the first events read, and changes nothing
      // for µs files
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def get(): SparkSession = builder().getOrCreate()
}
