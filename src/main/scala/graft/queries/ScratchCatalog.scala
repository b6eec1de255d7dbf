package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The query library's private lakehouse catalogs: `grely`, the cached
  * fixture tables behind q111–q129, and the [[IndexMemo]] index
  * catalogs. Three parts:
  *
  *  - one warehouse root per JVM under `java.io.tmpdir`, deleted by a
  *    shutdown hook; each catalog is a subdirectory, and the round-trip
  *    queries' file outputs live beside them;
  *  - idempotent per-session registration: the conf is written only when
  *    `spark.sql.catalog.<name>` is absent, so a query leaves an already
  *    wired session untouched;
  *  - [[cachedFixture]], the one build-once, rebuild-when-stale path for
  *    fixture tables.
  *
  * No other process can see the root, so a JVM monitor is the whole of
  * the fixture locking. */
private[graft] object ScratchCatalog {
  /** The fixture catalog of the lakehouse queries. */
  val Fixtures = "grely"

  private lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-scratch-")
    sys.addShutdownHook {
      try graft.catalog.Fs.deleteRecursively(dir)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    dir
  }

  /** Register `catalog` on `s` over its warehouse under the JVM root,
    * unless the session already has a catalog of that name. The memos
    * over these warehouses are JVM-global while the conf is per session,
    * so every use re-checks: a second session must still see the
    * catalog. */
  def register(s: SparkSession, catalog: String): Unit =
    if (s.conf.getOption(s"spark.sql.catalog.$catalog").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$catalog", "graft.catalog.LakehouseCatalog")
      s.conf.set(s"spark.sql.catalog.$catalog.warehouse", root.resolve(catalog).toString)
    }

  /** SQL-safe name for `prefix` and a corpus dir. Sanitizing alone is
    * NOT collision-free (`/tmp/x-1` and `/tmp/x_1` both sanitize to
    * `tmp_x_1`, and a JVM-global memo would then serve one corpus's
    * table for the other — silently wrong rows), so a digest of the RAW
    * path plus its length disambiguates. */
  def nameFor(prefix: String, d: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${prefix}_${d.replaceAll("[^A-Za-z0-9]", "_")}_${d.length}_$digest"
  }

  /** A scratch output path for `prefix` and a corpus dir. */
  def outputDir(prefix: String, d: String): String =
    root.resolve(nameFor(prefix, d)).toString

  /** Where fixture table `ns`.`tbl` of [[Fixtures]] lives. */
  def fixtureDir(ns: Seq[String], tbl: String): Path =
    ns.foldLeft(root.resolve(Fixtures))(_.resolve(_)).resolve(tbl)

  private val fixtureLock = new Object
  /** Serializes fixture freshness checks and builds within the JVM: two
    * sessions racing a stale table's DROP/CREATE would corrupt it. */
  def withRelyLock[A](f: => A): A = fixtureLock.synchronized(f)

  /** A fixture table: its name, dotted namespace, directory, and whether
    * this call built it. */
  final case class Fixture(table: String, ns: String, dir: Path, built: Boolean)

  /** The fixture table `ns`.`tbl`, created with `ddl` and filled by
    * `build` once per source content: a table whose recorded
    * `graft.src.mark` differs from `mark` (the `ddl` records it) is
    * dropped and rebuilt. */
  def cachedFixture(
      s: SparkSession, ns: Seq[String], tbl: String, mark: String,
      ddl: String => String)(build: String => Unit): Fixture = {
    register(s, Fixtures)
    val t = (Fixtures +: ns :+ tbl).mkString(".")
    val dir = fixtureDir(ns, tbl)
    withRelyLock {
      ns.indices.foreach { i =>
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS ${(Fixtures +: ns.take(i + 1)).mkString(".")}")
      }
      val fresh = !s.catalog.tableExists(t) || {
        val stale = !graft.catalog.TableMetadata.load(dir)
          .properties.get("graft.src.mark").contains(mark)
        if (stale) s.sql(s"DROP TABLE $t")
        stale
      }
      if (fresh) { s.sql(ddl(t)); build(t) }
      Fixture(t, ns.mkString("."), dir, fresh)
    }
  }
}
