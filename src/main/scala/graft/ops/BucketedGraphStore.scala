package graft.ops

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Bucketed persistence for [[GraphTable]] — the 100 TB layout the
  * GraphTable scaladoc promises: nodes bucketed+sorted on (label, key) and
  * edges on (src_label, src), so the heavy joins in the upsert/merge path
  * read pre-hashed, pre-sorted buckets instead of shuffling the full table.
  *
  * With BOTH sides stored through this layout, `upsertNodes`'s full-outer
  * merge compiles to a bucket-aligned SortMergeJoin with ZERO Exchange
  * (proved in BucketedJoinSpec). With only the persisted graph bucketed, the
  * 100 TB side still never shuffles — Spark exchanges just the incoming
  * batch to the table's bucket partitioning, which is the asymmetric case
  * that matters in production (small delta into a huge graph).
  *
  * Bucket counts must match across tables that join (Spark only aligns
  * scans with equal bucket counts) — `save` uses one count for both.
  *
  * Cross-session durability: the bucket spec lives in the session catalog,
  * which dies with the application under the default in-memory catalog.
  * `save` therefore also writes a `_graft_store.json` sidecar (schema +
  * bucket columns + count) next to the data, and `load` re-registers the
  * external table via DDL when the catalog entry is gone — so a FRESH
  * session still gets the zero-exchange scans, with or without a Hive
  * metastore.
  */
object BucketedGraphStore {

  private val json = new ObjectMapper()

  /** Writes the graph as two bucketed tables `<prefix>_nodes` /
    * `<prefix>_edges` rooted at `path`. */
  def save(g: GraphTable, prefix: String, path: String, buckets: Int = 64): Unit = {
    saveTable(g.nodes, s"${prefix}_nodes", s"$path/${prefix}_nodes",
      Seq("label", "key"), buckets)
    saveTable(g.edges, s"${prefix}_edges", s"$path/${prefix}_edges",
      Seq("src_label", "src"), buckets)
  }

  private def saveTable(
      df: DataFrame, table: String, location: String,
      bucketCols: Seq[String], buckets: Int): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", location)
      .saveAsTable(table)
    val meta = json.createObjectNode()
    meta.put("buckets", buckets)
    val cols = meta.putArray("bucketCols")
    bucketCols.foreach(cols.add)
    meta.set[JsonNode]("schema", json.readTree(df.schema.json))
    val p = new Path(location, "_graft_store.json")
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try json.writeValue(out: java.io.OutputStream, meta) finally out.close()
  }

  /** Reads the bucketed pair back, re-registering catalog entries from the
    * sidecar when this is a fresh session; the returned DataFrames carry
    * the bucket spec, so joins on the bucket keys skip their Exchange. */
  def load(spark: SparkSession, prefix: String, path: String): GraphTable = {
    ensureRegistered(spark, s"${prefix}_nodes", s"$path/${prefix}_nodes")
    ensureRegistered(spark, s"${prefix}_edges", s"$path/${prefix}_edges")
    GraphTable(spark.table(s"${prefix}_nodes"), spark.table(s"${prefix}_edges"))
  }

  /** Same-session convenience overload (catalog entry already present). */
  def load(spark: SparkSession, prefix: String): GraphTable =
    GraphTable(spark.table(s"${prefix}_nodes"), spark.table(s"${prefix}_edges"))

  private def ensureRegistered(spark: SparkSession, table: String, location: String): Unit = {
    if (spark.catalog.tableExists(table)) {
      // same name is NOT enough: a stale/foreign catalog entry rooted
      // elsewhere would silently serve another table's data — compare the
      // registered location against the requested path and fail loudly
      val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val want = fs.makeQualified(new Path(location)).toUri
      val registered = spark.sql(s"DESCRIBE FORMATTED $table")
        .where("col_name = 'Location'").collect().headOption
        .map(_.getString(1))
        .getOrElse(throw new IllegalStateException(
          s"'$table' exists but has no storage location (a temp view?); " +
            s"rename or drop it so the bucketed table at $location can register"))
      val got = fs.makeQualified(new Path(registered)).toUri
      if (got != want)
        throw new IllegalStateException(
          s"catalog table $table is registered at $got, not the requested $want; " +
            s"DROP TABLE $table (BucketedGraphStore.drop) to re-point it")
      return
    }
    val p = new Path(location, "_graft_store.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no bucketed table at $location (missing _graft_store.json)")
    val in = fs.open(p)
    val meta = try json.readTree(in) finally in.close()
    val buckets = meta.get("buckets").asInt
    val bucketCols = meta.get("bucketCols").asScala.map(_.asText)
    val schema = DataType.fromJson(meta.get("schema").toString).asInstanceOf[StructType]
    val colsDdl = schema.toDDL
    val bucketDdl = bucketCols.mkString(", ")
    spark.sql(
      s"""CREATE TABLE $table ($colsDdl) USING parquet
         |CLUSTERED BY ($bucketDdl) SORTED BY ($bucketDdl) INTO $buckets BUCKETS
         |LOCATION '$location'""".stripMargin)
  }

  /** Drops the catalog entries; the external data files stay at `path`
    * (re-`load` re-registers them). */
  def drop(spark: SparkSession, prefix: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_nodes")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_edges")
  }
}
