package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.EngineSession
import graft.model.CatalogMaterializer

/** Cross-JVM durable-metastore round trip for the `__CURRENT` pointer
  * protocol: phase `write` materializes a pointer-backed table twice
  * (live + retained predecessor) against a PERSISTENT hive/derby
  * metastore; phase `heal`, in a FRESH JVM over the same metastore,
  * proves (1) the persisted catalog resolves the live version directly,
  * (2) a torn entry (location reverted to the predecessor) is repaired
  * to the pointer's version on resolution, (3) a catalog that LOST the
  * entry entirely re-registers it from the pointer, and (4) the next
  * refresh commits cleanly on top. This is the in-memory
  * AtomicRefreshSpec healing story replayed against a real durable
  * catalog — what a production deployment (shared metastore, many
  * driver JVMs over time) actually runs.
  *
  * Driven by `MetastoreRoundTripSpec`, which spawns the two phases as
  * separate JVMs. Exit code 0 = phase passed (`require` throws → JVM
  * exits non-zero).
  */
object MetastoreRoundTrip {

  private val rel = "msgate.mart"

  private def session(wh: String, derby: String): SparkSession =
    EngineSession.builder()
      .config("spark.sql.warehouse.dir", wh)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$derby/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(phase, wh, derby) = args
    val spark = session(wh, derby)
    val mat = new CatalogMaterializer
    try phase match {
      case "write" =>
        mat.materializeTable(spark, rel, spark.range(6).toDF("id"))
        mat.materializeTable(spark, rel, spark.range(9).toDF("id"))
        require(spark.table(rel).count() == 9, "write phase readback")

      case "heal" =>
        // (1) The durable catalog alone resolves the committed version.
        require(spark.table(rel).count() == 9,
          "fresh JVM: persisted catalog did not resolve the live version")

        // (2) Torn mutation: revert the entry's location to the retained
        // predecessor while the pointer still names the live version —
        // resolution must repair to the pointer.
        import org.apache.spark.sql.catalyst.TableIdentifier
        val catalog = spark.sessionState.catalog
        val ident = TableIdentifier("mart", Some("msgate"))
        val meta = catalog.getTableMetadata(ident)
        val dir = new org.apache.hadoop.fs.Path(meta.location).getParent
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val current = new org.apache.hadoop.fs.Path(meta.location).getName
        val predecessor = fs.listStatus(dir).map(_.getPath.getName)
          .filter(n => n.startsWith("mart__v") && n != current &&
            !n.endsWith(".INFLIGHT"))
          .head
        catalog.alterTable(meta.copy(storage = meta.storage.copy(
          locationUri = Some(new org.apache.hadoop.fs.Path(dir, predecessor)
            .toUri))))
        spark.catalog.refreshTable(rel)
        require(spark.table(rel).count() == 6,
          "tear setup: expected the predecessor's contents")
        require(mat.relationExists(spark, rel), "resolution after tear")
        require(spark.table(rel).count() == 9,
          "fresh JVM: torn hive entry was not repaired to the pointer")

        // (3) Lost entry: drop from the durable catalog; the pointer is
        // the surviving commit record and must re-register it.
        catalog.dropTable(ident, ignoreIfNotExists = false, purge = false)
        require(!spark.catalog.tableExists(rel), "drop setup")
        require(mat.relationExists(spark, rel),
          "fresh JVM: lost hive entry was not re-registered from pointer")
        require(spark.table(rel).count() == 9,
          "fresh JVM: re-registered entry resolves wrong contents")

        // (4) The next refresh commits cleanly on the healed catalog.
        mat.materializeTable(spark, rel, spark.range(4).toDF("id"))
        require(spark.table(rel).count() == 4, "post-heal refresh")
    } finally spark.stop()
  }
}
