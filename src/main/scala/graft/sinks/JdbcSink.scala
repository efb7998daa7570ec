package graft.sinks

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types._

import graft.model.{DestColumn, WriteMode}
import graft.schema.SchemaMapper

/** Relational DDL dialect — quoting + DDL type mapping. MySQL is the
  * reference's dialect (mysql_writer.py); Derby exists so the sink can be
  * integration-tested live in this offline container (derby jars ship with
  * Spark).
  */
sealed trait SqlDialect {
  def quote(ident: String): String
  def ddlType(dt: DataType): String
  /** Per-column COMMENT clause, "" when the dialect has none. */
  def commentClause(comment: String): String = ""
  /** Table-level options suffix after the column list (table COMMENT),
    * "" when the dialect has none.
    */
  def tableOptionsClause(comment: String): String = ""
  /** ALTER statement updating an existing table's comment; None when
    * the dialect cannot alter table comments (Derby has none at all).
    */
  def alterTableCommentSql(quotedTable: String, comment: String): Option[String] = None
  /** CREATE SCHEMA/DATABASE statement for [[JdbcSink.ensureNamespace]]. */
  def createNamespaceSql(ns: String): String = s"CREATE SCHEMA ${quote(ns)}"
  /** Quote a possibly schema-qualified `ns.table` name part-by-part. */
  final def quoteQualified(table: String): String =
    table.split('.').map(quote).mkString(".")
}
object SqlDialect {
  /** `jdbc:derby:` URLs speak Derby; every other scheme gets the
    * reference's MySQL dialect. */
  def forUrl(url: String): SqlDialect =
    if (url.startsWith("jdbc:derby:")) DerbyDialect else MySqlDialect
}
object MySqlDialect extends SqlDialect {
  /** Backtick quoting (reference: mysql_writer.py:22-44). */
  def quote(ident: String): String = s"`${ident.replace("`", "``")}`"
  def ddlType(dt: DataType): String = SchemaMapper.toMySqlType(dt)
  /** Column comment DDL — the MySQL analog of the reference carrying
    * descriptions into BigQuery SchemaField (bigquery_client.py:88-112).
    */
  override def commentClause(comment: String): String =
    s" COMMENT '${comment.replace("\\", "\\\\").replace("'", "''")}'"
  /** Table COMMENT option — the MySQL analog of the reference's
    * `table.description` (bigquery_client.py:90,104-105).
    */
  override def tableOptionsClause(comment: String): String =
    s" COMMENT='${comment.replace("\\", "\\\\").replace("'", "''")}'"
  override def alterTableCommentSql(quotedTable: String,
      comment: String): Option[String] =
    Some(s"ALTER TABLE $quotedTable COMMENT = " +
      s"'${comment.replace("\\", "\\\\").replace("'", "''")}'")
  override def createNamespaceSql(ns: String): String =
    s"CREATE DATABASE IF NOT EXISTS ${quote(ns)}"
}
object DerbyDialect extends SqlDialect {
  def quote(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""
  // Derby has no COMMENT syntax — comments survive only via the parquet
  // path; createNamespaceSql inherits CREATE SCHEMA (no IF NOT EXISTS;
  // ensureNamespace checks the catalog first).
  def ddlType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case DoubleType | FloatType                        => "DOUBLE"
    case d: DecimalType                                => s"DECIMAL(${d.precision.min(31)},${d.scale})"
    case BooleanType                                   => "BOOLEAN"
    case TimestampType | TimestampNTZType              => "TIMESTAMP"
    case DateType                                      => "DATE"
    case BinaryType                                    => "BLOB"
    case _                                             => "VARCHAR(4000)"
  }
}

/** JDBC sink (SURVEY.md §2.1 S10-S12; reference: mysql_writer.py).
  *
  * DDL + catalog reads go through a plain JDBC connection (the
  * reference's information_schema reads become the portable
  * `DatabaseMetaData.getColumns`, which also yields nullability and
  * column defaults); bulk data movement goes through Spark's JDBC writer
  * so every executor writes its partitions in parallel — at scale, set
  * `numPartitions`/`batchsize` instead of the reference's serial 10k-row
  * loop.
  */
class JdbcSink(url: String, props: Properties = new Properties(),
    dialect: SqlDialect = null,
    writeOptions: Map[String, String] = Map.empty) extends Sink {

  /** `dialect` when given, else the URL scheme's ([[SqlDialect.forUrl]]). */
  private val sqlDialect: SqlDialect =
    Option(dialect).getOrElse(SqlDialect.forUrl(url))

  override def ddlType(dt: DataType): String = sqlDialect.ddlType(dt)

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  /** `ns.table` → (Some(ns), table); bare names pass through. */
  private def splitQualified(table: String): (Option[String], String) =
    table.split('.') match {
      case Array(ns, t) => (Some(ns), t)
      case _            => (None, table)
    }

  /** Create the schema/database if the catalog doesn't list it
    * (reference: bigquery_client.py:45-65 create_dataset_if_not_exists).
    */
  override def ensureNamespace(ns: String): Unit =
    withConn { c =>
      val rs = c.getMetaData.getSchemas
      val exists =
        try {
          var found = false
          while (rs.next() && !found)
            found = rs.getString("TABLE_SCHEM").equalsIgnoreCase(ns)
          found
        } finally rs.close()
      if (!exists) {
        val st = c.createStatement()
        try st.execute(sqlDialect.createNamespaceSql(ns)) finally st.close()
      }
    }

  override def testConnection(): Boolean =
    try withConn { c =>
      val st = c.createStatement()
      try { st.execute("SELECT 1"); true }
      catch { case _: Exception => c.isValid(5) }
      finally st.close()
    } catch { case _: Exception => false }

  override def tableExists(table: String): Boolean = {
    val (ns, name) = splitQualified(table)
    withConn { c =>
      val rs = c.getMetaData.getTables(null, null, null, Array("TABLE"))
      try {
        var found = false
        while (rs.next() && !found)
          found = rs.getString("TABLE_NAME").equalsIgnoreCase(name) &&
            ns.forall(s => Option(rs.getString("TABLE_SCHEM"))
              .exists(_.equalsIgnoreCase(s)))
        found
      } finally rs.close()
    }
  }

  /** CREATE TABLE statement text (exposed for DDL tests; duplicate names
    * already deduped upstream by SchemaMapper.dedupe — the reference
    * deduped in three layers, we do it once, SURVEY.md D4).
    */
  def createTableDdl(table: String, columns: Seq[DestColumn],
      tableComment: Option[String] = None): String = {
    val cols = columns.map { c =>
      val nn = if (c.nullable) "" else " NOT NULL"
      val dflt = c.default.map(d => s" DEFAULT $d").getOrElse("")
      val cmt = c.comment.filter(_.nonEmpty)
        .map(sqlDialect.commentClause).getOrElse("")
      s"${sqlDialect.quote(c.name)} ${c.typeName}$nn$dflt$cmt"
    }
    val opts = tableComment.filter(_.nonEmpty)
      .map(sqlDialect.tableOptionsClause).getOrElse("")
    s"CREATE TABLE ${sqlDialect.quoteQualified(table)} (${cols.mkString(", ")})$opts"
  }

  override def createTable(table: String, columns: Seq[DestColumn],
      tableComment: Option[String]): Unit = {
    val ddl = createTableDdl(table, columns, tableComment)
    withConn { c => val st = c.createStatement(); try st.execute(ddl) finally st.close() }
    ()
  }

  override def setTableComment(table: String, comment: String): Boolean =
    sqlDialect.alterTableCommentSql(sqlDialect.quoteQualified(table), comment)
      .exists { sql =>
        withConn { c =>
          val st = c.createStatement()
          try st.execute(sql) finally st.close()
        }
        true
      }

  /** Table description read back from the driver's catalog REMARKS
    * (where the driver surfaces it — MySQL does, Derby has no table
    * COMMENT at all).
    */
  override def tableComment(table: String): Option[String] = {
    val (ns, name) = splitQualified(table)
    // Push the schema/table-name patterns into getTables instead of
    // listing the whole catalog and filtering client-side — the old
    // scan returned a same-named table from ANY schema for an
    // unqualified name (first match wins), and enumerating every
    // catalog table per lookup doesn't scale. JDBC metadata patterns
    // are case-sensitive and unquoted DDL identifiers are stored
    // case-folded (Derby/most: upper), so probe as-given then folded.
    withConn { c =>
      val md = c.getMetaData
      // getTables arguments are LIKE patterns: '_'/'%' in a real table
      // name (nearly every name here has '_') must be escaped or
      // "my_table" also matches "myatable" — and JDBC row order could
      // put the impostor first
      val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
        .getOrElse("\\")
      def asLiteral(p: String): String = p.replace(esc, esc + esc)
        .replace("_", esc + "_").replace("%", esc + "%")
      // Some(remarksOpt) = a table with EXACTLY this casing exists
      // (remarksOpt None when it has no/empty comment); None = absent.
      // The distinction stops the case-folded fallthrough from running
      // when the as-given table exists but is merely uncommented —
      // on a case-sensitive backend the folded probe could hit a
      // DIFFERENT table. Rows are scanned for an exact name match as a
      // second guard for drivers that ignore the escape clause.
      def probe(sc: String, tn: String): Option[Option[String]] = {
        val rs = md.getTables(null,
          Option(sc).map(asLiteral).orNull, asLiteral(tn), Array("TABLE"))
        try {
          var hit: Option[Option[String]] = None
          while (rs.next() && hit.isEmpty) {
            val schemaOk = sc == null ||
              Option(rs.getString("TABLE_SCHEM")).contains(sc)
            if (rs.getString("TABLE_NAME") == tn && schemaOk)
              hit = Some(Option(rs.getString("REMARKS")).filter(_.nonEmpty))
          }
          hit
        } finally rs.close()
      }
      // Unqualified names resolve against the CONNECTION'S current
      // schema first (Connection.getSchema; drivers may not support it
      // — treat a throw as unknown), falling back to any-schema only if
      // the default schema has no match. Without this, schemaOk is
      // vacuously true for ns=None and a same-named table in ANY schema
      // can win by JDBC driver row order.
      val defSchema: Option[String] =
        if (ns.isDefined) None
        else try Option(c.getSchema).filter(_.nonEmpty)
        catch { case _: Throwable => None }
      val preferred = defSchema.toSeq.flatMap(ds => Seq(
        (ds, name), (ds.toUpperCase, name.toUpperCase),
        (ds.toLowerCase, name.toLowerCase)))
      val candidates = preferred ++ Seq(
        (ns.orNull, name),
        (ns.map(_.toUpperCase).orNull, name.toUpperCase),
        (ns.map(_.toLowerCase).orNull, name.toLowerCase))
      candidates.distinct.view.flatMap { case (sc, tn) => probe(sc, tn) }
        .headOption.flatten
    }
  }

  /** Schema evolution: one ALTER per column (maximally portable —
    * multi-ADD syntax varies by dialect). Forced nullable, no default:
    * existing rows must read NULL, not a fabricated value.
    */
  override def addColumns(table: String, columns: Seq[DestColumn]): Unit =
    withConn { c =>
      val st = c.createStatement()
      try columns.foreach { col =>
        val cmt = col.comment.filter(_.nonEmpty)
          .map(sqlDialect.commentClause).getOrElse("")
        st.execute(s"ALTER TABLE ${sqlDialect.quoteQualified(table)} " +
          s"ADD COLUMN ${sqlDialect.quote(col.name)} ${col.typeName}$cmt")
      } finally st.close()
    }

  /** Overwrite = TRUNCATE for relational sinks (reference:
    * mysql_writer.py:63-67, migrator.py:212-214) — preserves DDL,
    * indexes, grants.
    */
  override def truncateOrDrop(table: String): Unit =
    withConn { c =>
      val st = c.createStatement()
      try st.execute(s"TRUNCATE TABLE ${sqlDialect.quoteQualified(table)}") finally st.close()
    }

  /** Destination catalog via JDBC metadata: name, type, IS_NULLABLE,
    * COLUMN_DEF, REMARKS (reference: mysql_writer.py:69-96
    * information_schema; comments round-trip where the driver surfaces
    * them).
    */
  override def destSchema(table: String): Option[Seq[DestColumn]] = {
    if (!tableExists(table)) return None
    val (ns, name) = splitQualified(table)
    withConn { c =>
      val rs = c.getMetaData.getColumns(null, null, null, null)
      try {
        val buf = Seq.newBuilder[(Int, DestColumn)]
        while (rs.next()) {
          if (rs.getString("TABLE_NAME").equalsIgnoreCase(name) &&
              ns.forall(s => Option(rs.getString("TABLE_SCHEM"))
                .exists(_.equalsIgnoreCase(s)))) {
            val dc = DestColumn(
              rs.getString("COLUMN_NAME"),
              rs.getString("TYPE_NAME"),
              nullable = rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls,
              default = Option(rs.getString("COLUMN_DEF")).map(_.trim)
                .filter(_.nonEmpty).map(stripQuotes),
              comment = Option(rs.getString("REMARKS")).filter(_.nonEmpty))
            buf += rs.getInt("ORDINAL_POSITION") -> dc
          }
        }
        val cols = buf.result().sortBy(_._1).map(_._2)
        if (cols.isEmpty) None else Some(cols)
      } finally rs.close()
    }
  }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'') s.substring(1, s.length - 1)
    else s

  /** Spark JDBC parallel write. Complex types (array/map/struct) are
    * JSON-serialized to strings first — the reference stored them as TEXT
    * (SURVEY.md §1 rows array/map/struct).
    */
  override def write(df: DataFrame, table: String, mode: WriteMode): Unit = {
    val flat = df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType =>
          org.apache.spark.sql.functions.to_json(df(f.name)).as(f.name)
        case _ => df(f.name)
      }
    }: _*)
    val writer = flat.write.mode(mode match {
      case WriteMode.Overwrite     => SaveMode.Overwrite
      case WriteMode.Append        => SaveMode.Append
      case WriteMode.ErrorIfExists => SaveMode.ErrorIfExists
    }).option("truncate", "true") // overwrite keeps DDL, like the reference
    writeOptions.foldLeft(writer) { case (w, (k, v)) => w.option(k, v) }
      .jdbc(url, sqlDialect.quoteQualified(table), props)
  }
}
