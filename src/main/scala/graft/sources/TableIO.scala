package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Iceberg-semantics emulation over partitioned Parquet (SURVEY.md §1.5:
  * no Iceberg runtime jar offline, so snapshots are immutable directories
  * plus a JSON manifest `manifest-<id>.json`, behind this narrow facade
  * that a real Iceberg catalog could replace).
  *
  * Guarantees we keep from Iceberg: immutable snapshots, atomic commit
  * (manifest published last, create-if-absent via [[Fsx.createOnce]]:
  * of two committers that pick one id, the second fails and no snapshot
  * is lost), snapshot listing, and partition-level metadata. All control
  * I/O goes through the Hadoop FileSystem API ([[Fsx]]) so a table at
  * `hdfs://…`/`s3a://…` behaves exactly like a local one.
  */
object TableIO extends Serializable {

  final case class Snapshot(id: Long, path: String, partitions: Seq[String])

  private def manifestPath(tableDir: String, id: Long) =
    s"$tableDir/manifest-$id.json"

  /** Write df as a new immutable snapshot of tableDir; returns snapshot id.
    * Data lands in a directory of this attempt, then the manifest naming
    * it is published unless the id was taken meanwhile.
    */
  def commitSnapshot(
      df: DataFrame,
      tableDir: String,
      partitionBy: Seq[String] = Nil
  ): Long = {
    val id = nextSnapshotId(tableDir)
    val data = s"snap-$id-${java.util.UUID.randomUUID}"
    val dataDir = s"$tableDir/$data"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dataDir)
    val parts =
      if (partitionBy.isEmpty) Nil
      else Fsx.listNames(dataDir).filter(_.contains("=")).sorted
    val json =
      s"""{"snapshot_id":$id,"data":"$data","partition_by":[${partitionBy
          .map("\"" + _ + "\"").mkString(",")}],"partitions":[${parts
          .map("\"" + _ + "\"").mkString(",")}]}"""
    try Fsx.createOnce(manifestPath(tableDir, id), json)
    catch { case e: java.io.IOException => Fsx.delete(dataDir); throw e }
    id
  }

  private def nextSnapshotId(tableDir: String): Long = {
    val existing = snapshotIds(tableDir)
    if (existing.isEmpty) 1L else existing.max + 1L
  }

  def snapshotIds(tableDir: String): Seq[Long] =
    Fsx.listNames(tableDir)
      .collect { case s if s.startsWith("manifest-") && s.endsWith(".json") =>
        s.stripPrefix("manifest-").stripSuffix(".json").toLong
      }
      .sorted

  /** Read the latest (or a specific) snapshot as a DataFrame. */
  def readSnapshot(
      spark: SparkSession,
      tableDir: String,
      id: Option[Long] = None
  ): DataFrame = {
    val sid = id.getOrElse {
      val ids = snapshotIds(tableDir)
      require(ids.nonEmpty, s"no snapshots in $tableDir")
      ids.max
    }
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Fsx.readUtf8(manifestPath(tableDir, sid)))
    spark.read.parquet(s"$tableDir/${manifest.get("data").asText()}")
  }
}
