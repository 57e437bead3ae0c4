package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + golden-frame helpers. Fixtures carry an explicit
  * `row_id` for order-independent comparison (Spark DataFrames are unordered
  * multisets; the reference's pandas tests rely on implicit index order —
  * FIXTURES.md). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Rows of selected columns, ordered by row_id when present. */
  def rowsOf(df: DataFrame, cols: String*): Seq[Seq[Any]] = {
    val d = if (df.columns.contains("row_id")) df.orderBy("row_id") else df
    d.select(cols.map(col): _*).collect().toSeq.map(_.toSeq)
  }

  def colOf(df: DataFrame, c: String): Seq[Any] = rowsOf(df, c).map(_.head)

  def assertCol(df: DataFrame, c: String, expected: Seq[Any]): Unit =
    assert(colOf(df, c) == expected, s"column $c")

  def assertColApprox(
      df: DataFrame, c: String, expected: Seq[Option[Double]],
      eps: Double = 1e-9): Unit = {
    val got = colOf(df, c)
    assert(got.length == expected.length, s"column $c length")
    got.zip(expected).zipWithIndex.foreach {
      case ((null, None), _) => ()
      case ((g: Number, Some(e)), i) =>
        assert(math.abs(g.doubleValue - e) <= eps, s"$c[$i]: $g vs $e")
      case ((g, e), i) => fail(s"$c[$i]: $g vs $e")
    }
  }

  def dtypeOf(df: DataFrame, c: String): String =
    df.schema(c).dataType.simpleString

  /** The Spark jobs `body` starts. */
  def countJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        { counter.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are async; poll until the count is stable
      var last = -1
      var same = 0
      while (same < 3) {
        val now = counter.get()
        if (now == last) same += 1 else { same = 0; last = now }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  /** `body`'s result and the INFO lines logger `name` emits while it runs;
    * the logger's level and additivity are restored afterwards. */
  def logLines[T](name: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("spec-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        { lines.add(e.getMessage.getFormattedMessage); () }
    }
    appender.start()
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    Configurator.setLevel(name, Level.INFO)
    logger.setAdditive(false)
    logger.addAppender(appender)
    val out = try body finally {
      logger.removeAppender(appender)
      logger.setAdditive(additive)
      Configurator.setLevel(name, level)
    }
    (out, scala.jdk.CollectionConverters.CollectionHasAsScala(lines).asScala
      .toSeq)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
