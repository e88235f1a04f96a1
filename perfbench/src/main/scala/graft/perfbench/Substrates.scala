package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The one-time substrate builds `graft.Bench` runs before its timed loop,
  * grouped by the metric that reports them. Lives under `graft` because
  * some of these set-up calls are package-private. */
object Substrates {
  val all: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "substrate_dedup_s" -> graft.operators.DedupQueries.warmSubstrate,
    "substrate_bucketed_s" -> ((s, d) => { graft.sources.SourceQueries.ensureBucketedWarehouse(s, d); () }),
    "substrate_rec_s" -> graft.operators.GraphQueries.warmRecSubstrate,
    "substrate_ivf_s" -> ((s, d) => { graft.operators.SimilarityQueries2.ensureIvfWarehouse(s, d); () }),
    "substrate_acid_s" -> { (s, d) =>
      import graft.sources.AcidQueries._
      ensureChain(s, d); ensureEvo(s, d); ensureZorder(s, d)
      ensureVacuum(s, d); ensureRestore(s, d); ensurePartitioned(s, d)
      ()
    },
    "substrate_payloads_s" -> ((s, d) => { graft.operators.MultimodalQueries.patternPayloads(s, d).count(); () }))
}
