package graft.sources

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-addressable catalog for `graft-table` groups (VERDICT r14 item 5):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.sql("SELECT * FROM graft.`/data/group`.snapshot VERSION AS OF 3")
  * }}}
  *
  * The identifier's single namespace element is the GROUP DIRECTORY and
  * the table name is the group-relative table (`snapshot`, `history`,
  * `customers_snapshot`, …) — the same pair the `load()` options carry,
  * so `VERSION AS OF` plans as the identical pinned-version relation
  * ([[GraftTableTable]] → [[GraftTableReadRule]]), with the same filter
  * + bucket + file-stats pruning. Spark's time-travel analysis calls
  * `loadTable(ident, version)`; the live read is the plain overload.
  * Each load lists the log once and reads the pinned entry once: the
  * table is handed the transaction and group manifest the existence
  * check resolved.
  *
  * Read-only by design: tables are created by the SINK's commit protocol
  * (epoch CAS transactions), not by DDL — create/alter/drop refuse. */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name

  override def name(): String = catalogName

  private def opts(ident: Identifier,
      version: Option[String]): CaseInsensitiveStringMap = {
    if (ident.namespace().length != 1)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    val m = new java.util.HashMap[String, String]()
    m.put("path", ident.namespace()(0))
    m.put("table", ident.name())
    version.foreach(v => m.put("versionAsOf", v))
    new CaseInsensitiveStringMap(m)
  }

  /** The transaction `version` names (the live one when None) and its
    * group manifest — the CommitStore-seam answer to "what tables
    * exist": derived from the PUBLISHED log entry's content, never from
    * a directory walk, so it holds on object-store deployments where
    * table data is not FS-backed (and it can never show a half-written
    * table — a name appears exactly when its first transaction
    * commits). */
  private def committed(group: String, version: Option[String])
      : Option[(Long, graft.streaming.TableGroup.GroupManifest)] =
    for {
      v <- version.map(_.toLong)
        .orElse(graft.streaming.TableGroup.currentTxn(group))
      m <- graft.streaming.TableGroup.groupManifest(group, v)
    } yield (v, m)

  private def load(ident: Identifier, version: Option[String]): Table = {
    val o = opts(ident, version) // validates the namespace shape first
    val pinned = committed(ident.namespace()(0), version)
      .filter(_._2.contains(ident.name()))
      // a real NoSuchTableException (not a late IllegalArgumentException
      // from the read): tableExists answers false and SELECT fails as
      // TABLE_OR_VIEW_NOT_FOUND, like every other catalog
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    new GraftTableTable(o, Some(pinned))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.length != 1) return Array.empty
    committed(namespace(0), None).fold(Set.empty[String])(_._2.keySet)
      .toArray.sorted.map(Identifier.of(namespace, _))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft catalog is read-only: tables are created by the graft-table " +
        "sink's commit protocol, not DDL")

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
}
