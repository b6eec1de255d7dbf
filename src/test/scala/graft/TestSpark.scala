package graft

import org.apache.spark.sql.SparkSession

/** Shared test session from the engine's factory (so graft's extension
  * is installed): local[4], UTC, AQE on, our catalog registered
  * as `lakehouse` over a temp warehouse (same registration shape the
  * reference uses for its Iceberg+BLMS catalog, README.md:189-197).
  */
object TestSpark {
  lazy val warehouse: String =
    TestDirs.create("graft-warehouse-").toString

  lazy val spark: SparkSession = SessionTuning.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.catalog.lakehouse" -> "graft.catalog.LakehouseCatalog",
    "spark.sql.catalog.lakehouse.warehouse" -> warehouse)
}
