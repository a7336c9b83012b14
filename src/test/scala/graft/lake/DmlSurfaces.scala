package graft.lake

import graft.SparkSpec
import graft.sources.GraftCatalog

/** One SQL entry point for row-level DML over its own fresh store:
  * `table` renders a store table's name the way this surface's SQL
  * addresses it, `run` executes one statement. */
final case class DmlSurface(name: String, store: TableStore,
                            table: String => String, run: String => Unit)

/** The two entry points MERGE / UPDATE / DELETE reach the store by:
  * the GraftSql front door, and plain `spark.sql` against a
  * [[GraftCatalog]] (the GraftExtensions-injected path). Specs run
  * the same statement through both and expect the same outcome. */
trait DmlSurfaces { self: SparkSpec =>
  private val catalogs = new java.util.concurrent.atomic.AtomicInteger()

  def surfaces(prefix: String): Seq[DmlSurface] = {
    val front = new TableStore(spark, tmpDir(prefix))
    val root = tmpDir(prefix + "-cat")
    val cat = s"dml_cat_${catalogs.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Seq(
      DmlSurface("GraftSql", front, identity,
        sql => GraftSql.execute(spark, front, sql)),
      DmlSurface("catalog", new TableStore(spark, root), t => s"$cat.$t",
        sql => spark.sql(sql)))
  }
}
