package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixture-table loaders + numeric helpers shared by the query catalog.
  *
  * Numeric discipline (for the DuckDB differential oracle, and for
  * determinism on a real cluster where partition/merge order varies run to
  * run):
  *   - per-row arithmetic stays in IEEE doubles — bit-identical in any
  *     engine;
  *   - aggregation of doubles goes through `DECIMAL(18,s)` (exact,
  *     order-independent — Spark widens the sum to DECIMAL(28,s), DuckDB to
  *     DECIMAL(38,s)), then back to double. A plain `sum(double)` is
  *     accumulation-order-dependent and therefore not reproducible across
  *     partitionings, let alone engines.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // A `ts` stored as TIMESTAMP(NANOS) reads as a long under the
    // engine's pinned `spark.sql.legacy.parquet.nanosAsLong`
    // (GraftEngine.recommendedConfs); convert it to a microsecond
    // timestamp — DuckDB reads the same file at microsecond precision,
    // so the two engines agree bit-for-bit. The caller's session conf
    // is left as the caller set it.
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case None => df
    }
  }

  /** Register all fixture tables as temp views (for spark.sql users). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  /** Spread a (possibly single-split) input across all cores before
    * CPU-heavy per-row work, hash-partitioned on a key for a
    * deterministic layout. A small parquet file arrives as ONE input
    * split, which would serialize the computation; at real scale inputs
    * have many splits and this shuffle is negligible next to the per-row
    * work it parallelizes. */
  def spread(df: DataFrame, keyCol: String): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    df.repartition(parts, col(keyCol))
  }

  /** Exact, order-independent sum of a double column via decimal.
    *
    * The final decimal→double conversion goes THROUGH A STRING on both
    * engines: above ~2^53 scaled units DuckDB's direct decimal→double
    * cast is not correctly rounded where Spark's is (found by the
    * round-8 three-scale sweep — q97's squared-moment sums crossed the
    * line at sf0.1). Both engines' string parsers are correctly
    * rounded at any magnitude and render DECIMAL identically, so the
    * string route is bit-portable at any SF; below the line it yields
    * the identical double, so existing oracles are unchanged. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("string").cast("double")

  /** Exact mean: decimal sum divided (in double) by the row count. */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(lit(1))

  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  def dsumSql(e: String, scale: Int = 2): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(18,$scale))) AS VARCHAR) AS DOUBLE)"

  def davgSql(e: String, scale: Int = 2): String =
    s"${dsumSql(e, scale)} / count(*)"

  /** Drop managed tables AND their warehouse directories — needed by
    * every index/state-table query and spec because the in-memory
    * metastore dies with the JVM while `spark-warehouse/` persists,
    * after which a bare `DROP TABLE IF EXISTS` no-ops and the next
    * `saveAsTable` fails with LOCATION_ALREADY_EXISTS.
    *
    * Resolution order: if the table still exists, its directory comes
    * from the CATALOG (correct for any case / database / custom
    * location); only a vanished table falls back to the
    * `<warehouse.dir>/<lowercased name>` convention — the metastore
    * lowercases identifiers on disk, so a mixed-case name must not be
    * joined verbatim. Database-qualified names are rejected on the
    * fallback path rather than guessing a wrong directory. */
  def dropTablesAndDirs(spark: SparkSession, tables: String*): Unit =
    tables.foreach { t =>
      val catalogLoc: Option[String] =
        if (spark.catalog.tableExists(t))
          scala.util.Try(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
            .where(col("col_name") === "Location")
            .select("data_type").as(org.apache.spark.sql.Encoders.STRING)
            .head()).toOption
        else None
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = catalogLoc match {
        case Some(l) => new org.apache.hadoop.fs.Path(l)
        case None =>
          require(!t.contains("."),
            s"dropTablesAndDirs: cannot infer the warehouse directory of " +
              s"a database-qualified name with no catalog entry: $t")
          new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"),
            t.toLowerCase(java.util.Locale.ROOT))
      }
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
}
