package graft.tools

import org.apache.spark.sql.functions._

/** Cluster-quality audit of the linkage chain at scale: size
  * distribution, purity (entities per cluster), cohesion (clusters per
  * entity). Usage: ClusterAudit <nFiles> <cpus>
  */
object ClusterAudit {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toLong).getOrElse(200000L)
    val cpus = args.drop(1).headOption.getOrElse("16")
    val spark = graft.Bench.buildSession(cpus)

    val files = graft.pipeline.RepoFiles.generate(spark, nFiles, seed = 42L)
      .localCheckpoint()
    val clusters = new graft.pipeline.LinkagePipeline.Stages(spark, files,
      graft.pipeline.LinkagePipeline.InMemory(nFiles)).clusters

    val joined = clusters.join(files.select("file_id", "entity_id"), "file_id")
      .localCheckpoint()
    println("TOP CLUSTERS (size, n_entities):")
    joined.groupBy("cluster_id")
      .agg(count(lit(1)).as("size"),
        countDistinct("entity_id").as("n_entities"))
      .orderBy(col("size").desc)
      .limit(12)
      .collect()
      .foreach(r => println(s"  AUDIT cluster=${r.get(0)} size=${r.get(1)} " +
        s"entities=${r.get(2)}"))
    val stats = joined.groupBy("cluster_id")
      .agg(countDistinct("entity_id").as("ne"))
      .agg(count(lit(1)).as("clusters"),
        sum(when(col("ne") === 1, 1).otherwise(0)).as("pure"))
      .head()
    println(s"AUDIT clusters=${stats.getLong(0)} pure=${stats.getLong(1)}")
    // names inside impure clusters (who merged with whom, and why)
    val impure = joined.groupBy("cluster_id")
      .agg(countDistinct("entity_id").as("ne"))
      .where(col("ne") > 1).select("cluster_id").limit(5)
    joined.join(impure, "cluster_id")
      .join(files.select("file_id", "path"), "file_id")
      .select("cluster_id", "entity_id", "path")
      .limit(60).collect()
      .foreach(r => println(s"AUDIT impure cluster=${r.get(0)} " +
        s"entity=${r.get(1)} path=${r.get(2)}"))

    val coh = joined.groupBy("entity_id")
      .agg(countDistinct("cluster_id").as("nc"))
      .agg(count(lit(1)).as("entities"),
        sum(when(col("nc") === 1, 1).otherwise(0)).as("cohesive"))
      .head()
    println(s"AUDIT entities=${coh.getLong(0)} cohesive=${coh.getLong(1)}")
    spark.stop()
  }
}
