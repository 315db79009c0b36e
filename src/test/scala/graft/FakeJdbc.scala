package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}

import scala.collection.mutable

/** Recording JDBC proxies shared by the merge-sink tests (no database in
  * this environment): every prepared statement logs its SQL, bound batches
  * and executions; the connection logs commits. */
object FakeJdbc {

  /** Models real driver batch semantics: `executeBatch` CLEARS the
    * pending command list whether it succeeds or throws (JDBC spec), so a
    * caller that naively retries the bare call re-executes an empty
    * batch — `batches` records only successfully executed binds. */
  class FakeStatement(val sql: String, lost: () => Boolean = () => false) {
    val current = mutable.Map[Int, Any]()
    val pending = mutable.ArrayBuffer[Seq[Any]]()
    val batches = mutable.ArrayBuffer[Seq[Any]]() // successfully executed binds
    val executions = mutable.ArrayBuffer[Int]()   // batch size at each successful executeBatch
    var failuresToInject = 0
    lazy val proxy: PreparedStatement = Proxy.newProxyInstance(
      getClass.getClassLoader,
      Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "setObject" =>
            current(args(0).asInstanceOf[Integer].intValue()) = args(1); null
          case "addBatch" =>
            pending += (1 to current.keys.max).map(current(_)); current.clear(); null
          case "clearBatch" =>
            pending.clear(); null
          case "executeBatch" =>
            val snapshot = pending.toList
            pending.clear()
            if (failuresToInject > 0) {
              failuresToInject -= 1
              throw new RuntimeException("injected executeBatch failure")
            }
            if (lost()) throw noConnection()
            batches ++= snapshot
            executions += snapshot.size
            Array.fill(snapshot.size)(1)
          case "close" => null
          case other => throw new UnsupportedOperationException(other)
        }
      }).asInstanceOf[PreparedStatement]
  }

  /** Derby's failure once a session-severity error has closed the
    * connection. */
  def noConnection(): java.sql.SQLNonTransientConnectionException =
    new java.sql.SQLNonTransientConnectionException("No current connection.", "08003")

  /** `loseAfterFailures`: once a statement's injected failures are used
    * up, the connection is gone — every later executeBatch, commit and
    * rollback fails with [[noConnection]], as on Derby after a
    * session-severity error. `reportsClosed` makes `isClosed` say so
    * too; left false, only the exception type tells. */
  class FakeConnection(
      failuresPerStatement: Int = 0,
      loseAfterFailures: Boolean = false,
      reportsClosed: Boolean = false) {
    val statements = mutable.ArrayBuffer[FakeStatement]()
    val ddl = mutable.ArrayBuffer[String]()
    var commits = 0
    var rollbacks = 0
    var commitFailuresToInject = 0
    /** What DatabaseMetaData.getColumns reports — the simulated live
      * table. Tests mutate this between batches to model an existing
      * sink table (the fake does not parse DDL). */
    var columnsMeta: Seq[(String, String)] = Nil
    /** What Connection.getSchema reports (MSSQL default: dbo). */
    var currentSchema: String = "dbo"
    /** Recorded (schemaPattern, tablePattern) of each getColumns call. */
    val metaQueries = mutable.ArrayBuffer[(String, String)]()

    private def lost: Boolean =
      loseAfterFailures && statements.exists(_.failuresToInject < failuresPerStatement)

    private def resultSetFor(rows: Seq[(String, String)]): java.sql.ResultSet = {
      var idx = -1
      Proxy.newProxyInstance(
        getClass.getClassLoader,
        Array(classOf[java.sql.ResultSet]),
        new InvocationHandler {
          def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
            case "next" =>
              idx += 1; java.lang.Boolean.valueOf(idx < rows.length)
            case "getString" => args(0).asInstanceOf[String] match {
              case "COLUMN_NAME" => rows(idx)._1
              case "TYPE_NAME"   => rows(idx)._2
              case other => throw new UnsupportedOperationException(s"getString($other)")
            }
            case "close" => null
            case other => throw new UnsupportedOperationException(other)
          }
        }).asInstanceOf[java.sql.ResultSet]
    }

    private lazy val metaData: java.sql.DatabaseMetaData = Proxy.newProxyInstance(
      getClass.getClassLoader,
      Array(classOf[java.sql.DatabaseMetaData]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "getSearchStringEscape" => "\\"
          case "getColumns" =>
            metaQueries += ((args(1).asInstanceOf[String], args(2).asInstanceOf[String]))
            resultSetFor(columnsMeta)
          case other => throw new UnsupportedOperationException(other)
        }
      }).asInstanceOf[java.sql.DatabaseMetaData]
    lazy val proxy: Connection = Proxy.newProxyInstance(
      getClass.getClassLoader,
      Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" =>
            val st = new FakeStatement(args(0).asInstanceOf[String], () => lost)
            st.failuresToInject = failuresPerStatement
            statements += st
            st.proxy
          case "createStatement" =>
            Proxy.newProxyInstance(
              getClass.getClassLoader,
              Array(classOf[java.sql.Statement]),
              new InvocationHandler {
                def invoke(p2: Any, m2: Method, a2: Array[AnyRef]): AnyRef = m2.getName match {
                  case "execute" => ddl += a2(0).asInstanceOf[String]; java.lang.Boolean.FALSE
                  case "close" => null
                  case other => throw new UnsupportedOperationException(other)
                }
              })
          case "commit" | "rollback" if lost => throw noConnection()
          case "isClosed" => java.lang.Boolean.valueOf(reportsClosed && lost)
          case "commit" =>
            if (commitFailuresToInject > 0) {
              commitFailuresToInject -= 1
              throw new RuntimeException("injected commit failure")
            }
            commits += 1; null
          case "rollback" => rollbacks += 1; null
          case "getMetaData" => metaData
          case "getSchema" => currentSchema
          case "setAutoCommit" | "close" => null
          case other => throw new UnsupportedOperationException(other)
        }
      }).asInstanceOf[Connection]
  }
}
