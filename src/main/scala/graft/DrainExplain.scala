package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (round 17): dump the formatted plans of the ADMISSION
  * OPERATORS as the streaming drains actually invoke them — with a
  * STATS-FREE batch frame (`createDataFrame(df.rdd, schema)` produces
  * the same LogicalRDD-with-default-statistics shape a foreachBatch
  * micro-batch has). The declared qs39/qs44/qs45/qs46/qs47/qs48
  * queries return the post-drain parquet read, so their own
  * `explain` never shows the per-batch probe plans; THIS is where the
  * join strategies the drains pay for are visible and auditable.
  *
  * Usage: runMain graft.DrainExplain <sfDir>
  */
object DrainExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    // the drains' split: src19 arrives, the rest stands
    val docs = graft.core.Tables.documents(spark, sfDir)
    val corpus = docs.where(col("source") =!= "src19")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stats-free batch frame — the foreachBatch shape
    def statsFree(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    val batch = statsFree(docs.where(col("source") === "src19"))

    println("\n========== editAdmission (qs44/qs46/qs48 per-batch probe) ==========")
    graft.operators.EditJoin.editAdmission(corpus,
      graft.operators.EditJoin.storedWindowIndex(spark, sfDir, corpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      graft.operators.EditJoin.storedSignatures(spark, sfDir, corpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      batch, "doc_id", "text").explain("formatted")

    println("\n========== admitAgainst (qs39/qs46 per-batch probe) ==========")
    graft.operators.Dedup.admitAgainst(corpus,
      graft.operators.TrainingOps.corpusBands(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      batch, threshold = 0.9, materialize = false).explain("formatted")

    println("\n========== VecAdmission.admit full probe/shortlist (qs45/qs46 leg) ==========")
    locally {
      import graft.operators.VecAdmission
      val model = VecAdmission.corpusModel(spark, sfDir)
      val emb = graft.core.Tables.embeddings(spark, sfDir)
      val arrivals = statsFree(emb
        .join(docs.where(col("source") === "src19")
          .select(col("doc_id").as("vec_id")), "vec_id")
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")))
      VecAdmission.admit(arrivals,
        VecAdmission.storedCells(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        VecAdmission.storedCodes(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        VecAdmission.corpusEmb(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        model, VecAdmission.corpusSqModel(spark, sfDir),
        k = 1, nProbe = model.k, shortlist = Int.MaxValue)
        .explain("formatted")
    }
    spark.stop()
  }
}
