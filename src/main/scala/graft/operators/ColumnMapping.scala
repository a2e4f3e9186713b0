package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}

/** Delta-style COLUMN MAPPING for the commit-log table format: a
  * logical→physical name indirection carried in the declared schema's
  * field metadata, which is what makes `ALTER TABLE RENAME COLUMN`
  * and `DROP COLUMN` metadata-only operations — no data file is ever
  * rewritten (reference analogue: the lakehouse lifecycle the 485-line
  * reference ETL sits on top of; Delta's columnMapping.physicalName).
  *
  * Invariants:
  *  - a column's PHYSICAL name is fixed at creation, forever: data
  *    files, zone maps, Bloom filters and non-null stats are all keyed
  *    by it, so files written before a rename keep serving (and keep
  *    PRUNING) untouched;
  *  - the declared schema's field NAME is the logical (user-visible)
  *    name; fields whose physical differs carry it under
  *    [[ColumnMapping.PhysicalKey]] — an unmapped field's physical IS
  *    its name, so pre-mapping tables pay zero change;
  *  - a column added AFTER a drop/rename that would collide with any
  *    physical name ever used gets a FRESH minted physical name, so
  *    dropped data can never resurrect under a re-added logical name.
  *
  * Translation happens at the table boundary only: writers stage files
  * under physical names, readers alias back to logical after the scan,
  * and every metadata consultation (zones, blooms, file columns)
  * translates logical→physical first. Everything between — operators,
  * constraints, user queries — speaks logical names exclusively. */
object ColumnMapping {

  /** Field-metadata key carrying the physical (file/stats) name. */
  val PhysicalKey = "graft.physicalName"

  /** The field's physical name (its own name when unmapped). */
  def physical(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** logical → physical through `schema`; identity for names the
    * schema doesn't declare (metadata columns, undeclared tables). */
  def physicalName(schema: StructType, logical: String): String =
    schema.fields.find(_.name == logical).map(physical).getOrElse(logical)

  /** physical → logical (the read-side inverse). */
  def logicalName(schema: StructType, phys: String): String =
    schema.fields.find(f => physical(f) == phys).map(_.name).getOrElse(phys)

  /** True when any field's physical differs from its logical name —
    * the gate every translation site checks first, so unmapped tables
    * take exactly the pre-mapping code path. */
  def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => f.metadata.contains(PhysicalKey) &&
      f.metadata.getString(PhysicalKey) != f.name)

  /** The schema with every field renamed to its physical name (the
    * shape of the data files; metadata kept so the inverse stays
    * derivable). */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physical(f))))

  /** Stamp a physical name onto a field (no-op metadata when it
    * already equals the logical name). */
  def withPhysical(f: StructField, phys: String): StructField =
    if (phys == f.name && !f.metadata.contains(PhysicalKey)) f
    else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalKey, phys).build())

  /** Strip the mapping key (for surfaces that must not leak it). */
  def withoutMapping(f: StructField): StructField =
    if (!f.metadata.contains(PhysicalKey)) f
    else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .remove(PhysicalKey).build())

  /** Apply a rename map to EVERY column in one simultaneous
    * projection. Deliberately not `withColumnsRenamed`: Spark expands
    * that as a sequential fold over the pairs, so a map where one
    * pair's target equals a later pair's source (reachable after
    * chained renames) would cascade — the first rename's output gets
    * renamed again by the second pair. A single select aliases every
    * ORIGINAL column exactly once, so pairs can never interact. */
  private def renameAll(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else df.select(df.columns.map(c => df(s"`$c`").as(m.getOrElse(c, c))): _*)

  /** Rename a DataFrame's declared columns logical→physical (columns
    * the schema doesn't declare pass through untouched). */
  def toPhysical(df: DataFrame, declared: StructType): DataFrame = {
    if (!hasMapping(declared)) return df
    renameAll(df, declared.fields.iterator
      .filter(f => physical(f) != f.name)
      .map(f => f.name -> physical(f)).toMap)
  }

  /** Rename a DataFrame's physical columns back to logical — the
    * read-side inverse of [[toPhysical]]. Apply AFTER anything that
    * needs `_metadata` (the rename is a projection; hidden file-source
    * metadata does not survive it). */
  def toLogical(df: DataFrame, declared: StructType): DataFrame = {
    if (!hasMapping(declared)) return df
    renameAll(df, declared.fields.iterator
      .filter(f => physical(f) != f.name)
      .map(f => physical(f) -> f.name).toMap)
  }

  /** The write-boundary schema: the task writer's (logical-named)
    * write schema with each field renamed to its declared physical
    * name — shared by the DSv2 streaming sink and the COW rewrite so
    * the two can never drift. */
  def physicalWriteSchema(schema: StructType, declared: StructType): StructType =
    if (!hasMapping(declared)) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = physicalName(declared, f.name))))

  /** Rewrite a pushed filter's single-part column names through `m`
    * (zones, blooms and the data files' columns are keyed by PHYSICAL
    * names). Unknown filter shapes pass through — they are
    * not skippable, so their names are never consulted. */
  def mapFilter(f: Filter, m: String => String): Filter = f match {
    case GreaterThan(c, v) => GreaterThan(m(c), v)
    case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(m(c), v)
    case LessThan(c, v) => LessThan(m(c), v)
    case LessThanOrEqual(c, v) => LessThanOrEqual(m(c), v)
    case EqualTo(c, v) => EqualTo(m(c), v)
    case EqualNullSafe(c, v) => EqualNullSafe(m(c), v)
    case In(c, vs) => In(m(c), vs)
    case IsNull(c) => IsNull(m(c))
    case IsNotNull(c) => IsNotNull(m(c))
    case StringStartsWith(c, v) => StringStartsWith(m(c), v)
    case StringEndsWith(c, v) => StringEndsWith(m(c), v)
    case StringContains(c, v) => StringContains(m(c), v)
    case And(l, r) => And(mapFilter(l, m), mapFilter(r, m))
    case Or(l, r) => Or(mapFilter(l, m), mapFilter(r, m))
    case Not(x) => Not(mapFilter(x, m))
    case other => other
  }
}
