package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.connector.catalog.{Identifier, Table}

import graft.iceberg.connector.GraftCatalog

/** The engine's catalog with a `catalog.loadTable` span around every
  * table load. A load is a cache hit when it returns the same table
  * instance as the previous load of that identifier. Only the traced
  * run registers this class; the untraced run uses [[GraftCatalog]]. */
class TracedCatalog extends GraftCatalog {
  private val last = new ConcurrentHashMap[String, Table]()

  override def loadTable(ident: Identifier): Table =
    Tracing.tracer.spanWith("catalog.loadTable")(super.loadTable(ident)) { t =>
      val prev = last.put(ident.toString, t)
      Map("hit" -> (if (prev eq t) 1.0 else 0.0))
    }
}

object Tracing {
  val tracer = new Tracer
}
