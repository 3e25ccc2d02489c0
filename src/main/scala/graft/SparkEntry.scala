package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gate.GatedQuery
import graft.plans.SpecJson

/** Driver contract — one gated query per implemented operator from
  * SURVEY.md §2 (+ the north-star LLM-pipeline operators), each with an
  * ANSI-SQL DuckDB oracle. Every query is one [[graft.gate.GatedQuery]]
  * record (builder, oracle SQL, optional bench form) in its family file
  * under `graft.gate`; the three maps here are projections of
  * [[GatedQuery.all]]. This object also pins the model assets the
  * benchmark harness reads.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_h1_joiner")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    GatedQuery.all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] = GatedQuery.all.map(q => q.name -> q.oracle).toMap

  /** Bench-time overrides: the bench times the UNBOUNDED organic form of
    * an approximate tier under the same name as its gated query.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    GatedQuery.all.flatMap(q => q.bench.map(q.name -> _)).toMap

  /** The flagship-v3 spec asset `src/main/resources/specs/llm_pipeline_v3.json`. */
  private[graft] def llmPipelineV3Json: String =
    SpecJson.resource("/specs/llm_pipeline_v3.json")

  /** Pinned quality-classifier weights — a model asset like
    * [[bpeGateMerges]]: trained once by `tools.QualityTrainProbe`
    * (self-supervised organic-vs-corrupted, lr=5, iters=1500, sf0.01;
    * organic accept 0.97, corrupted accept 0.076) and pinned so the gate
    * is deterministic. Order matches [[graft.operators.QualityModel.features]]: bias,
    * length saturation, distinct-token ratio, punct ratio, mean word
    * length (scaled), stopword density, top-bigram fraction.
    */
  val qualityGateWeights: Seq[Double] = Seq(
    -4.2627960659, 12.1640084758, 21.5034395273, -5.0739632683,
    -23.1214741799, 11.0592704619, -17.6127551396)

  /** Pinned BPE tokenizer model for the encode gate: the first 24 merges
    * [[graft.functions.Bpe.trainMerges]] learns on the sf0.01 fixtures
    * (reproduce with `runMain graft.tools.BpeProbe`). Pinning the model is
    * what makes ENCODE DuckDB-replayable — training's iterative argmax has
    * no SQL form (it is CI-gated in BpeSpec), but applying a fixed merge
    * list is pure string algebra both engines can express. None of the
    * pinned merges has `a == b`: that is the one case where the oracle's
    * replace-to-fixpoint formulation diverges from the engine's
    * left-to-right fold (overlapping occurrences in a same-symbol run),
    * so it is excluded from the gate model by construction.
    */
  private[graft] val bpeGateMerges: Seq[(String, String)] = Seq(
    ("e", "r</w>"), ("o", "w</w>"), ("t", "o"), ("a", "t"),
    ("l", "u"), ("a", "s"), ("i", "n"), ("e", "r"),
    ("o", "r"), ("a", "r"), ("p", "ar"), ("i", "n</w>"),
    ("j", "o"), ("jo", "in</w>"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
    ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"), ("c", "o"))
}
