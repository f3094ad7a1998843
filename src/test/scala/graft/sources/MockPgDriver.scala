package graft.sources

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DriverPropertyInfo, ResultSet, SQLException, SQLFeatureNotSupportedException, Types}
import java.util.Properties
import java.util.logging.Logger

import scala.collection.mutable

/** A minimal in-memory JDBC engine speaking POSTGRES error semantics
  * (`42P01 undefined_table`), for proving [[JdbcWarehouse]]'s dialect
  * portability without a second database in the container: the suite
  * runs the real `spark.read.jdbc` / `df.write.jdbc` paths against it,
  * so the non-Derby branch of `TableMissingStates` and the writer's
  * transactional batches execute end-to-end rather than being asserted
  * on paper.
  *
  * Scope: exactly the statement shapes Spark's JDBC relation sends —
  * schema probe (`WHERE 1=0`), `CREATE TABLE`, batched `INSERT` with
  * parameters inside a transaction, full-table `SELECT` (incl. the
  * `SELECT 1` count shape), and the slot-range `WHERE` the ingest
  * guard pushes down (a conjunction of `IS NOT NULL`, `>=` and `<=`
  * against integer literals). Anything else throws loudly with the
  * method/SQL in the message, so a Spark-version drift surfaces as a
  * named gap, never a silent wrong answer.
  */
object MockPg {

  final case class Col(name: String, sqlType: Int)
  final class Table(val cols: Seq[Col]) {
    val rows = mutable.ArrayBuffer.empty[Array[Any]]
  }

  /** Committed store, keyed by table name (unquoted, case-exact). */
  private val tables = mutable.Map.empty[String, Table]
  private val lock = new Object

  /** Every filtering WHERE a SELECT evaluated, in arrival order. */
  private val wheres = mutable.ArrayBuffer.empty[String]

  def reset(): Unit = lock.synchronized { tables.clear(); wheres.clear() }
  def pushedWheres: Seq[String] = lock.synchronized(wheres.toSeq)
  def rowCount(table: String): Int =
    lock.synchronized(tables.get(table).map(_.rows.size).getOrElse(0))

  val UrlPrefix = "jdbc:graftpg:"

  private def missing(table: String): Nothing =
    throw new SQLException(s"""relation "$table" does not exist""", "42P01")

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '"' && t.last == '"') t.substring(1, t.length - 1)
    else t
  }

  /** Split on top-level commas (quoted identifiers never contain
    * commas in the shapes Spark emits, but parens can nest in types). */
  private def splitTop(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.result()
    out.toSeq
  }

  private def sqlTypeOf(typeName: String): Int = {
    val t = typeName.trim.toUpperCase
    if (t.contains("CHAR") || t.contains("TEXT") || t.contains("CLOB")) Types.VARCHAR
    else if (t.startsWith("BIGINT")) Types.BIGINT
    else if (t.startsWith("SMALLINT")) Types.SMALLINT
    else if (t.startsWith("INT")) Types.INTEGER
    else if (t.startsWith("DOUBLE") || t.startsWith("FLOAT8")) Types.DOUBLE
    else if (t.startsWith("REAL")) Types.REAL
    else if (t.startsWith("BOOLEAN")) Types.BOOLEAN
    else if (t.startsWith("TIMESTAMP")) Types.TIMESTAMP
    else if (t.startsWith("DATE")) Types.DATE
    else if (t.startsWith("DECIMAL") || t.startsWith("NUMERIC")) Types.DECIMAL
    else throw new SQLException(s"MockPg: unmapped DDL type '$typeName'", "0A000")
  }

  // ---------------------------------------------------------------
  // SQL "engine": the statement shapes Spark + JdbcWarehouse issue
  // ---------------------------------------------------------------

  private val SelectRe =
    """(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\S+)\s*(?:WHERE\s+(.*?))?\s*""".r
  private val CreateRe =
    """(?is)\s*CREATE\s+TABLE\s+(\S+)\s*\((.*)\)\s*""".r
  private val InsertRe =
    """(?is)\s*INSERT\s+INTO\s+(\S+)\s*\((.*?)\)\s*VALUES\s*\((.*?)\)\s*""".r

  private def colIndex(t: Table, n: String): Int = {
    val i = t.cols.indexWhere(_.name == n)
    if (i < 0) throw new SQLException(s"""column "$n" does not exist""", "42703")
    i
  }

  /** One conjunct of the pushed slot-range filter: `("c" IS NOT NULL)`,
    * `("c" >= <integer>)` or `("c" <= <integer>)`. */
  private val NotNullRe = """(?i)\(?\s*"?(\w+)"?\s+IS\s+NOT\s+NULL\s*\)?""".r
  private val CompareRe = """\(?\s*"?(\w+)"?\s*(>=|<=)\s*(-?\d+)\s*\)?""".r

  /** Row predicate for a pushed WHERE over `t`'s columns; any shape but
    * the slot-range conjunction fails with the SQL in the message. */
  private def rowFilter(t: Table, where: String, sql: String): Array[Any] => Boolean = {
    val preds: Seq[Array[Any] => Boolean] =
      where.split("(?i)\\s+AND\\s+").toSeq.map(_.trim).map {
        case NotNullRe(c) =>
          val i = colIndex(t, c); (r: Array[Any]) => r(i) != null
        case CompareRe(c, op, v) =>
          val i = colIndex(t, c); val bound = v.toLong
          val cmp: Long => Boolean =
            if (op == ">=") _ >= bound else _ <= bound
          (r: Array[Any]) => r(i) match {
            case null => false
            case n: Number => cmp(n.longValue())
            case other => throw new SQLException(
              s"MockPg: integer comparison on ${other.getClass.getSimpleName} in: $sql", "0A000")
          }
        case _ =>
          throw new SQLException(s"MockPg: unsupported WHERE in: $sql", "0A000")
      }
    r => preds.forall(_(r))
  }

  /** A result: column metadata + materialized rows. */
  final case class Result(cols: Seq[Col], rows: Seq[Array[Any]])

  private def runQuery(sql: String): Result = lock.synchronized {
    sql match {
      case SelectRe(colList, rawTable, where) =>
        val table = stripQuotes(rawTable)
        val t = tables.getOrElse(table, missing(table))
        val noRows = where != null && where.replaceAll("\\s", "") == "1=0"
        val rows =
          if (noRows) Nil
          else if (where == null) t.rows.toSeq
          else {
            val keep = rowFilter(t, where, sql)
            wheres += where
            t.rows.toSeq.filter(keep)
          }
        val cl = colList.trim
        if (cl == "*")
          Result(t.cols, rows.map(_.clone()))
        else if (cl == "1")
          Result(Seq(Col("1", Types.INTEGER)), rows.map(_ => Array[Any](1)))
        else {
          val idx = splitTop(cl).map(stripQuotes).map(colIndex(t, _))
          Result(idx.map(t.cols), rows.map(r => idx.map(r).toArray[Any]))
        }
      case other =>
        throw new SQLException(s"MockPg: unsupported query: $other", "0A000")
    }
  }

  /** DDL and autocommit-mode DML run immediately; transactional DML is
    * buffered per connection and applied here on commit. */
  private def runUpdate(sql: String, params: Seq[Any]): Int = lock.synchronized {
    sql match {
      case CreateRe(rawTable, colDefs) =>
        val table = stripQuotes(rawTable)
        if (tables.contains(table))
          throw new SQLException(s"""relation "$table" already exists""", "42P07")
        val cols = splitTop(colDefs).map { d =>
          val trimmed = d.trim
          val (name, tpe) =
            if (trimmed.startsWith("\"")) {
              val end = trimmed.indexOf('"', 1)
              (trimmed.substring(1, end), trimmed.substring(end + 1))
            } else {
              val sp = trimmed.indexOf(' ')
              (trimmed.substring(0, sp), trimmed.substring(sp + 1))
            }
          Col(name, sqlTypeOf(tpe))
        }
        tables(table) = new Table(cols)
        0
      case InsertRe(rawTable, colList, _) =>
        val table = stripQuotes(rawTable)
        val t = tables.getOrElse(table, missing(table))
        val names = splitTop(colList).map(stripQuotes)
        require(names == t.cols.map(_.name),
          s"MockPg: INSERT column order $names != table ${t.cols.map(_.name)}")
        t.rows += params.toArray
        1
      case other =>
        throw new SQLException(s"MockPg: unsupported update: $other", "0A000")
    }
  }

  // ---------------------------------------------------------------
  // java.sql proxies
  // ---------------------------------------------------------------

  /** Reflective proxy: handled methods via `pf`; primitive-returning
    * unhandled methods get zero/false (JDBC metadata probes), object-
    * returning ones THROW with the method name so a gap is loud. */
  private def proxy[T](iface: Class[T])(
      pf: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          val key = (m.getName, a)
          if (pf.isDefinedAt(key)) pf(key)
          else m.getName match {
            case "toString" => s"MockPg${iface.getSimpleName}"
            case "hashCode" => Int.box(System.identityHashCode(p))
            case "equals" => Boolean.box(a.headOption.exists(_ eq p))
            case "getWarnings" => null
            case _ if m.getReturnType == java.lang.Void.TYPE => null
            case _ if m.getReturnType == java.lang.Boolean.TYPE => Boolean.box(false)
            case _ if m.getReturnType == java.lang.Integer.TYPE => Int.box(0)
            case _ if m.getReturnType == java.lang.Long.TYPE => Long.box(0L)
            case _ =>
              throw new SQLFeatureNotSupportedException(
                s"MockPg: unimplemented ${iface.getSimpleName}.${m.getName}")
          }
        }
      }).asInstanceOf[T]

  private def resultSet(res: Result): ResultSet = {
    var i = -1
    var lastWasNull = false
    def cell(col: AnyRef): Any = {
      val c = col.asInstanceOf[Number].intValue() - 1
      val v = res.rows(i)(c)
      lastWasNull = v == null
      v
    }
    val meta = proxy(classOf[java.sql.ResultSetMetaData]) {
      case ("getColumnCount", _) => Int.box(res.cols.size)
      case ("getColumnName", Array(c)) =>
        res.cols(c.asInstanceOf[Number].intValue() - 1).name
      case ("getColumnLabel", Array(c)) =>
        res.cols(c.asInstanceOf[Number].intValue() - 1).name
      case ("getColumnType", Array(c)) =>
        Int.box(res.cols(c.asInstanceOf[Number].intValue() - 1).sqlType)
      case ("getColumnTypeName", Array(c)) =>
        res.cols(c.asInstanceOf[Number].intValue() - 1).sqlType match {
          case Types.VARCHAR => "varchar"
          case Types.BIGINT => "int8"
          case Types.INTEGER => "int4"
          case Types.DOUBLE => "float8"
          case _ => "other"
        }
      case ("getPrecision", Array(c)) =>
        Int.box(res.cols(c.asInstanceOf[Number].intValue() - 1).sqlType match {
          case Types.VARCHAR => 255
          case Types.BIGINT => 19
          case Types.DOUBLE => 17
          case _ => 10
        })
      case ("getScale", _) => Int.box(0)
      case ("isSigned", _) => Boolean.box(true)
      case ("isNullable", _) =>
        Int.box(java.sql.ResultSetMetaData.columnNullable)
    }
    proxy(classOf[ResultSet]) {
      case ("next", _) => i += 1; Boolean.box(i < res.rows.size)
      case ("getMetaData", _) => meta
      case ("wasNull", _) => Boolean.box(lastWasNull)
      case ("getString", Array(c)) => cell(c).asInstanceOf[String]
      case ("getLong", Array(c)) => cell(c) match {
        case null => Long.box(0L)
        case n: Number => Long.box(n.longValue())
      }
      case ("getInt", Array(c)) => cell(c) match {
        case null => Int.box(0)
        case n: Number => Int.box(n.intValue())
      }
      case ("getDouble", Array(c)) => cell(c) match {
        case null => Double.box(0.0)
        case n: Number => Double.box(n.doubleValue())
      }
      case ("getBoolean", Array(c)) => cell(c) match {
        case null => Boolean.box(false)
        case b: java.lang.Boolean => b
      }
      case ("getTimestamp", Array(c)) => cell(c).asInstanceOf[java.sql.Timestamp]
      case ("getDate", Array(c)) => cell(c).asInstanceOf[java.sql.Date]
      case ("getObject", Array(c)) => cell(c).asInstanceOf[AnyRef]
      case ("isClosed", _) => Boolean.box(false)
      case ("close", _) => null
    }
  }

  private[sources] def connection(): Connection = {
    var autoCommit = true
    // (sql, params) buffered while autoCommit == false; applied on
    // commit under the global lock — one transaction per connection,
    // the contract Spark's JDBC writer relies on
    val pending = mutable.ArrayBuffer.empty[(String, Seq[Any])]
    def exec(sql: String, params: Seq[Any]): Int =
      if (autoCommit) runUpdate(sql, params)
      else { pending += ((sql, params)); 1 }

    def prepared(sql: String): java.sql.PreparedStatement = {
      val params = mutable.Map.empty[Int, Any]
      val batch = mutable.ArrayBuffer.empty[Seq[Any]]
      def snapshot: Seq[Any] =
        if (params.isEmpty) Nil
        else (1 to params.keys.max).map(k => params.getOrElse(k, null))
      proxy(classOf[java.sql.PreparedStatement]) {
        case ("executeQuery", _) => resultSet(runQuery(sql))
        case ("executeUpdate", _) => Int.box(exec(sql, snapshot))
        case ("setString", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setLong", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setInt", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setDouble", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setBoolean", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setObject", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setTimestamp", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setDate", Array(p, v)) =>
          params(p.asInstanceOf[Number].intValue()) = v; null
        case ("setNull", Array(p, _)) =>
          params(p.asInstanceOf[Number].intValue()) = null; null
        case ("addBatch", Array()) => batch += snapshot; params.clear(); null
        case ("executeBatch", _) =>
          val counts = batch.map(b => exec(sql, b)).toArray
          batch.clear()
          counts
        case ("clearBatch", _) => batch.clear(); null
        case ("setQueryTimeout", _) | ("setFetchSize", _) => null
        case ("close", _) | ("cancel", _) => null
        case ("isClosed", _) => Boolean.box(false)
        case ("getConnection", _) =>
          throw new SQLFeatureNotSupportedException("MockPg: getConnection")
      }
    }

    val dbMeta = proxy(classOf[java.sql.DatabaseMetaData]) {
      case ("supportsTransactions", _) => Boolean.box(true)
      case ("supportsDataManipulationTransactionsOnly", _) => Boolean.box(true)
      case ("supportsDataDefinitionAndDataManipulationTransactions", _) =>
        Boolean.box(true)
      case ("getDefaultTransactionIsolation", _) =>
        Int.box(Connection.TRANSACTION_READ_COMMITTED)
      case ("supportsTransactionIsolationLevel", _) => Boolean.box(true)
      case ("getDatabaseProductName", _) => "MockPg"
      case ("getURL", _) => UrlPrefix + "mem"
      case ("getDriverVersion", _) => "1.0"
      case ("getDatabaseMajorVersion", _) => Int.box(1)
      case ("getDatabaseMinorVersion", _) => Int.box(0)
      case ("getJDBCMajorVersion", _) => Int.box(4)
      case ("getJDBCMinorVersion", _) => Int.box(2)
    }

    proxy(classOf[Connection]) {
      case ("prepareStatement", args) if args.nonEmpty =>
        prepared(args(0).asInstanceOf[String])
      case ("createStatement", _) =>
        proxy(classOf[java.sql.Statement]) {
          case ("executeQuery", Array(sql)) =>
            resultSet(runQuery(sql.asInstanceOf[String]))
          case ("executeUpdate", Array(sql)) =>
            Int.box(exec(sql.asInstanceOf[String], Nil))
          case ("execute", Array(sql)) =>
            exec(sql.asInstanceOf[String], Nil); Boolean.box(false)
          case ("setQueryTimeout", _) => null
          case ("close", _) => null
          case ("isClosed", _) => Boolean.box(false)
        }
      case ("setAutoCommit", Array(b)) =>
        autoCommit = b.asInstanceOf[java.lang.Boolean]; null
      case ("getAutoCommit", _) => Boolean.box(autoCommit)
      case ("commit", _) =>
        lock.synchronized(pending.foreach { case (s, p) => runUpdate(s, p) })
        pending.clear(); null
      case ("rollback", _) => pending.clear(); null
      case ("getMetaData", _) => dbMeta
      case ("setTransactionIsolation", _) => null
      case ("getTransactionIsolation", _) =>
        Int.box(Connection.TRANSACTION_READ_COMMITTED)
      case ("isClosed", _) => Boolean.box(false)
      case ("isValid", _) => Boolean.box(true)
      case ("close", _) | ("abort", _) => null
      case ("getCatalog", _) | ("getSchema", _) => null
    }
  }
}

/** Concrete (non-proxy) Driver class: Spark's DriverRegistry resolves
  * the driver CLASS NAME from `DriverManager.getDriver(url)` and
  * re-instantiates it by name on executors — a reflective proxy has no
  * stable canonical name, so this one class is real. */
class MockPgDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(MockPg.UrlPrefix)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null else MockPg.connection()
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getParentLogger: Logger =
    throw new SQLFeatureNotSupportedException("MockPg: getParentLogger")
}

object MockPgDriver {
  @volatile private var registered = false
  def ensureRegistered(): Unit = if (!registered) synchronized {
    if (!registered) {
      java.sql.DriverManager.registerDriver(new MockPgDriver)
      registered = true
    }
  }
}
