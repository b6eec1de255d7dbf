package graft.catalog

import org.apache.spark.sql.SparkSession

/** Scoped session-conf writes: a library whose entry points run inside
  * USER sessions must not leave its conf tweaks behind (`SET x` from a
  * DELETE call surviving into the user's next query). `withConf` sets
  * a conf for the duration of `body` and restores the prior value
  * after.
  *
  * Restoration is REFERENCE-COUNTED per (session, key): two concurrent
  * library calls on one session (racing INSERTs are a supported,
  * spec'd pattern) both need the conf live until the LAST one finishes
  * — a naive save/restore would unset it under the slower writer and
  * silently flip its parquet encoding mid-commit. Counted scopes
  * assume the same value (true for every current use: TIMESTAMP_MICROS
  * commits); the first scope captures the user's original value and
  * the last restores it.
  */
object SessionConf {
  private val lock = new Object
  private val active =
    scala.collection.mutable.Map[(SparkSession, String), (Int, Option[String])]()

  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    lock.synchronized {
      active.get((spark, key)) match {
        case Some((n, orig)) => active((spark, key)) = (n + 1, orig)
        case None =>
          active((spark, key)) = (1, spark.conf.getOption(key))
          spark.conf.set(key, value)
      }
    }
    try body
    finally lock.synchronized {
      val (n, orig) = active((spark, key))
      if (n == 1) {
        active.remove((spark, key))
        orig match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } else active((spark, key)) = (n - 1, orig)
    }
  }

  /** Parquet commits write modern micros timestamps (INT96 carries no
    * usable stats — see the file-skipping rationale in LakehouseTable),
    * without leaking the writer conf into the session. The conf is
    * consumed synchronously inside `body` (prepareWrite /
    * `.write.parquet` capture it into the job conf), so restoring
    * after `body` is safe. [[CommitFiles]] holds every write that
    * uses it. */
  def withMicros[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")(body)
}
