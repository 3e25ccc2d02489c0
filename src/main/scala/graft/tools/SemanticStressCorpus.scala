package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared builder of the planted-structure semantic-dedup stress corpus —
  * the ONE definition `graft.Stress` (stage `semantic_dedup`), [[V3Stress]]
  * and VectorIndexSpec run, so the planted-pair recall split in SCALING.md
  * (the measured ladder's semantic-dedup row) is measured on exactly the
  * corpus the stress stage times.
  *
  * Construction, per base vector v (paired with a stride partner
  * w = base[(vec_id + 131·i) mod baseN]): copies i < [[DupGroup]]/2 are
  * exact twins (2v — cosine exactly 1 to v and to each other); copies
  * i < [[DupGroup]] are near dups (8v + w, ≈7° off v, mutually ≥ .98);
  * all further copies are midpoint mixtures (v+w)/2 as filler. A mixture
  * sits ≤ ~.87 from each parent — below the .95 bar — and because the
  * 131-stride is coprime to baseN while i < copies ≪ baseN, no two
  * mixtures draw the same unordered parent set: the filler plants NO
  * duplicate pairs of its own (a bitwise mirror of mixture (v, i) would
  * need 131·(i+i′) ≡ 0 mod baseN — unsatisfiable at these scales). Any
  * `filler` pairs a probe reports are therefore FALSE POSITIVES, not
  * planted structure.
  */
object SemanticStressCorpus {
  /** Copies 0..DupGroup/2 are exact twins, ..DupGroup near dups. */
  val DupGroup = 10

  /** Returns (corpus, baseCount). The corpus is `n`-row (rounded to a
    * whole number of copy generations, min [[DupGroup]]), repartitioned to
    * 32 but NOT persisted — callers persist/count to their own lifecycle.
    */
  def build(spark: SparkSession, n: Long,
            basePath: String = "/root/testdata/sf0.1/embeddings.parquet"
           ): (DataFrame, Long) = {
    val ebase = spark.read.parquet(basePath).select("vec_id", "embedding")
    val eN = ebase.count()
    val copies = math.max(DupGroup, (n / eN).toInt)
    val partner = ebase.select(col("vec_id").as("pid"), col("embedding").as("pv"))
    val idx = spark.range(0L, copies.toLong).toDF("i")
    val emb = ebase.crossJoin(idx)
      .withColumn("pid", (col("vec_id") + col("i") * 131L) % eN)
      .join(broadcast(partner), "pid")
      .select((col("vec_id") + col("i") * 1000000L).as("vec_id"),
        when(col("i") < DupGroup / 2,
          transform(col("embedding"), x => x * lit(2.0f)))
        .when(col("i") < DupGroup,
          zip_with(col("embedding"), col("pv"), (x, y) => x * lit(8.0f) + y))
        .otherwise(
          zip_with(col("embedding"), col("pv"), (x, y) => (x + y) * lit(0.5f)))
        .as("embedding"))
      .repartition(32)
    (emb, eN)
  }
}
