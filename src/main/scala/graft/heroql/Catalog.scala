package graft.heroql

import org.apache.spark.sql.DataFrame

/** The relations a program's `data` declarations bind to. Each binding is
  * a thunk the [[Planner]] forces only when the query reaches that
  * relation, once per compile, so a query over `orders` never builds the
  * `part` or `lineitem` scans of the same catalog.
  *
  * `id` names the catalog's DEFINITION, e.g. `HeroQueries.catalog@<dir>`:
  * two catalogs with one id must build the same plans from the same input
  * files. Only a catalog with an id can serve a cached plan (see
  * [[HeroQL.compile]]); a catalog of already-built frames has none. */
final case class Catalog(id: Option[String], bindings: Map[String, () => DataFrame]) {
  /** These bindings plus `more`. The result has no id: `more` is not part
    * of the definition the id names. */
  def ++(more: Map[String, () => DataFrame]): Catalog = Catalog(None, bindings ++ more)
}

object Catalog {
  /** Frames that are already built; never plan-cached. */
  def of(frames: Map[String, DataFrame]): Catalog =
    Catalog(None, frames.map { case (name, df) => name -> (() => df) })

  /** A catalog named `id` whose bindings are built on first reach. */
  def lazily(id: String)(bindings: (String, () => DataFrame)*): Catalog =
    Catalog(Some(id), bindings.toMap)
}
