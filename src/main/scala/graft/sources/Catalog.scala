package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dataset discovery — the engine analog of the reference's
  * `datasets.fetch_available` (ref datasets/datasets.py:48-92), which
  * lists fetchable datasets with an optional category filter. Here the
  * "catalog" is a data directory of parquet tables (the sandbox stand-in
  * for an Iceberg catalog namespace) plus whatever is registered in the
  * session catalog.
  */
object Catalog {

  /** List the parquet tables under `dir`, optionally filtered by a name
    * prefix (the reference's `category`). One row per table:
    * (table_name, format).
    */
  def fetchAvailable(spark: SparkSession, dir: String,
      category: Option[String] = None): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tables = fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .filter(n => category.forall(n.startsWith))
      .sorted
    tables.map(n => (n, "parquet")).toDF("table_name", "format")
  }
}
