package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Shared test session: local[4], UTC, AQE on, our catalog registered
  * as `lakehouse` over a temp warehouse (same registration shape the
  * reference uses for its Iceberg+BLMS catalog, README.md:189-197).
  */
object TestSpark {
  lazy val warehouse: String =
    Files.createTempDirectory("graft-warehouse-").toString

  lazy val spark: SparkSession = SessionTuning.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.catalog.lakehouse" -> "graft.catalog.LakehouseCatalog",
    "spark.sql.catalog.lakehouse.warehouse" -> warehouse,
    // static conf — must be present when the context is built
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")
}
