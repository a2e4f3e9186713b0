package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{array, lit}

import graft.plans._

/** The function table: one entry per native function, every entry a
  * builtin of every session, and Column helpers that build expressions
  * without touching the session's function registry. */
class GraftFunctionsSpec extends SparkSpec {

  private val names = GraftFunctions.all.map(_.name)

  /** Every public Column helper, built once with placeholder arguments. */
  private def buildAllHelpers(): Seq[Column] = {
    val objects: Seq[AnyRef] = Seq(VectorExpressions, DeletionVector,
      TopKAggregate, BloomAggregate, FrequentItemsAggregate,
      AdjacentSymPairs, BpeMergeChain)
    def arg(t: Class[_]): AnyRef =
      if (t == classOf[Column]) lit(1)
      else if (t == java.lang.Integer.TYPE) Int.box(2)
      else if (t == classOf[Array[Long]]) Array(1L)
      else if (t == classOf[Seq[_]]) Seq("a")
      else fail(s"no placeholder for a ${t.getName} argument")
    for {
      o <- objects
      m <- o.getClass.getDeclaredMethods.toSeq
      if java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[Column]
    } yield m.invoke(o, m.getParameterTypes.map(arg): _*).asInstanceOf[Column]
  }

  test("the table holds one entry per function name") {
    assert(names.distinct.size === names.size,
      names.diff(names.distinct).mkString(", "))
    assert(names.forall(_.startsWith("graft_")))
  }

  test("every table function is callable from SQL in a fresh session") {
    val registry = spark.newSession().sessionState.functionRegistry
    val missing = names.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
  }

  test("the Column helpers cover the table, one helper per function") {
    val built = buildAllHelpers().map(GraftColumns.expression(_) match {
      case agg: AggregateExpression => agg.aggregateFunction.prettyName
      case e => e.prettyName
    })
    assert(built.sorted === names.sorted)
  }

  test("building Column helpers registers nothing and logs no re-registration") {
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-fn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("replaced a previously registered function")) replaced.add(msg)
      }
    }
    // the registry warns through its own logger; keep WARN visible
    // whatever level other suites leave on the root logger
    Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry", Level.WARN)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    capture.start()
    ctx.getConfiguration.getRootLogger.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      // positive control: a real re-registration is captured
      val other = spark.newSession().sessionState.functionRegistry
      other.createOrReplaceTempFunction("graft_probe", _ => Literal(1), "scala_udf")
      other.createOrReplaceTempFunction("graft_probe", _ => Literal(1), "scala_udf")
      assert(replaced.size === 1)
      replaced.clear()

      val registry = spark.sessionState.functionRegistry
      val before = registry.listFunction().toSet
      buildAllHelpers()
      val dot = spark.range(1)
        .select(VectorExpressions.dot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))))
        .collect()(0).getDouble(0)
      assert(dot === 11.0)
      assert(replaced.isEmpty, replaced.toArray.mkString("\n"))
      assert(registry.listFunction().toSet === before)
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender("graft-fn-capture")
      ctx.updateLoggers()
      capture.stop()
    }
  }
}
