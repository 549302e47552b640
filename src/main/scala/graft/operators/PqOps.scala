package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product quantization (PQ) + asymmetric-distance (ADC) search — the
  * third ANN scale path next to the hyperplane-LSH and IVF variants.
  * PQ stores each 64-dim embedding as 16 4-bit codes (8 B instead of
  * 256 B); ADC scores a query against the codes, shortlists, and re-ranks
  * the shortlist exactly. The quantizer (training, encoding, search) is
  * [[PortableQuantizer]]; this object holds the graded registry entry.
  */
object PqOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "emb_pq_adc" -> ((s: SparkSession, d: String) => PortableQuantizer.pqAdc(s, d)))

  /** Full-pipeline DuckDB oracle (training replayed with unrolled
    * Lloyd's rounds) — see [[PortableQuantizer.pqOracle]]. */
  val oracles: Map[String, String] = Map(
    "emb_pq_adc" -> PortableQuantizer.pqOracle)
}
