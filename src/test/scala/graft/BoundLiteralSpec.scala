package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.plans.BoundLiteral
import graft.sources.MultiStore

/** [[BoundLiteral]]: a filter whose keys are bound returns what the same
  * predicate returns with plain literals, under generated code and under
  * `eval`; plans print as before; and a bound key never lets Spark reuse
  * an exchange or a cached frame that holds another key's rows.
  */
class BoundLiteralSpec extends SparkSpec {

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def bound(plan: SparkPlan): Int =
    plan.flatMap(_.expressions.flatMap(_.collect { case b: BoundLiteral => b })).size

  private def bound(df: DataFrame): Int = bound(df.queryExecution.executedPlan)

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("l", LongType),
    StructField("i", IntegerType), StructField("dbl", DoubleType),
    StructField("d", DateType), StructField("ts", TimestampType)))

  // each column's values: its type's edges, a few small values and NULL,
  // so that probes drawn from the same pools hit, miss and straddle them
  private val pools: Map[String, Seq[Any]] = Map(
    "l"   -> Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L, 7L, 17664L, Int.MaxValue.toLong + 1),
    "i"   -> Seq(Int.MinValue, Int.MaxValue, -1, 0, 1, 7, 42),
    "dbl" -> Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5, Double.PositiveInfinity,
                 Double.NegativeInfinity, Double.MinPositiveValue),
    "d"   -> Seq(0, 1, 18000, 19999, -365).map(n => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n))),
    "ts"  -> Seq(0L, 1L, 1600000000000L, -86400000L).map(new java.sql.Timestamp(_)))

  private lazy val rows: Seq[Row] = {
    val rnd = new scala.util.Random(5)
    (0L until 240L).map { id =>
      Row.fromSeq(id +: schema.fieldNames.toSeq.tail.map { c =>
        if (rnd.nextInt(8) == 0) null else pools(c)(rnd.nextInt(pools(c).size))
      })
    }
  }

  test("bound keys return the rows plain literals return, under codegen and under eval") {
    // the truth: the predicate over a local relation, which the optimizer
    // evaluates with plain literals; the bound plan scans an RDD, so the
    // filter runs as a FilterExec with its keys bound
    val local  = spark.createDataFrame(rows.asJava, schema)
    val scanned = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    // a probe drawn from the column's pool, now and then NULL, and for the
    // BIGINT column at times an INT literal
    def probe(c: String): Gen[Column] = Gen.frequency(
      1 -> Gen.const(lit(null).cast(schema(c).dataType)),
      8 -> Gen.oneOf(pools(c)).flatMap {
        case v: Long if c == "l" && v.isValidInt => Gen.oneOf(lit(v), lit(v.toInt))
        case v                                   => Gen.const(lit(v))
      })
    val sample = for {
      c  <- Gen.oneOf(pools.keys.toSeq.sorted)
      op <- Gen.oneOf("=", "<", ">=", "between", "isin")
      a  <- probe(c)
      b  <- probe(c)
      d  <- probe(c)
    } yield (c, op, a, b, d)
    var boundPlans = 0
    def check(c: String, op: String, a: Column, b: Column, d: Column): Boolean = {
      val x = col(c)
      val pred = op match {
        case "="       => x === a
        case "<"       => x < a
        case ">="      => x >= a
        case "between" => x.between(a, b)
        case _         => x.isin(a, b, d)
      }
      val got = scanned.filter(pred)
      if (bound(got) > 0) boundPlans += 1
      val ok = ids(got) == ids(local.filter(pred))
      if (!ok) println(s"$pred: got ${ids(got)}, want ${ids(local.filter(pred))}")
      ok
    }
    val prop = Prop.forAll(sample) { case (c, op, a, b, d) => check(c, op, a, b, d) }
    def run(): Unit = {
      val result = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(23L)), prop)
      assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    }
    run()
    withConf("spark.sql.codegen.wholeStage" -> "false",
             "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(boundPlans > 40, s"only $boundPlans of 80 plans bound a key: the property checked little")
  }

  test("a bound filter prints as its plain literals do") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .filter(col("l") === 17664L && col("i") >= 3 && col("dbl").isin(0.5, -0.0) &&
        col("d").between(java.sql.Date.valueOf("2019-04-14"), java.sql.Date.valueOf("2024-12-31")) &&
        col("ts") < new java.sql.Timestamp(1600000000000L))
    val plan = df.queryExecution.executedPlan
    assert(bound(df) == 7, plan.treeString)
    val plain = plan.transformAllExpressions { case BoundLiteral(l) => l }
    assert(bound(plain) == 0)
    Seq(false, true).foreach(verbose => assert(plan.treeString(verbose) == plain.treeString(verbose)))
    val text = plan.treeString
    Seq("17664", ">= 3", "0.5", "-0.0", "2019-04-14", "2020-09-13 12:26:40").foreach(s =>
      assert(text.contains(s), s"'$s' missing from\n$text"))
  }

  test("exchange reuse never serves one key's rows for another") {
    val df = spark.range(0, 200).toDF("k")
    def side(k: Long) = df.filter(col("k") === k).repartition(3, col("k"))
    Seq("true", "false").foreach { aqe =>
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val both = side(1L).union(side(2L))
        assert(both.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L), s"AQE $aqe")
        // the same key twice is still one exchange, reused
        val same = side(1L).union(side(1L))
        assert(same.collect().map(_.getLong(0)).toSeq == Seq(1L, 1L), s"AQE $aqe")
      }
    }
  }

  // Spark matches a cached frame by its logical plan, where the keys are
  // plain literals, so this case pins the contract end to end rather than
  // the leaf's equality (the exchange case above does that)
  test("a cached read serves its own key only, and serves it to every read of that key") {
    withTempDir("boundcache") { dir =>
      val r = s"$dir/snap"
      MultiStore.commit(r, Map("t" -> spark.range(0, 400).toDF("id").repartition(4)))
      def read(k: Long) = MultiStore.read(spark, r, "t").filter(col("id") === k)
      def usesCache(df: DataFrame) =
        df.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }.nonEmpty
      val a = read(17L).cache()
      try {
        assert(ids(a) == Seq(17L))
        val b = read(18L)
        assert(!usesCache(b) && ids(b) == Seq(18L))
        val again = read(17L)
        assert(usesCache(again) && ids(again) == Seq(17L))
      } finally a.unpersist(blocking = true)
    }
  }

  test("equality and printing follow the literal") {
    val l = Literal(17664L)
    assert(BoundLiteral(l) == BoundLiteral(Literal(17664L)))
    assert(BoundLiteral(l) != BoundLiteral(Literal(17665L)))
    assert(BoundLiteral(Literal(1L)) != BoundLiteral(Literal(1)))
    assert(BoundLiteral(Literal(Double.NaN)) == BoundLiteral(Literal(Double.NaN)))
    assert(BoundLiteral(l).canonicalized != BoundLiteral(Literal(1L)).canonicalized)
    assert(BoundLiteral(l).toString == l.toString && BoundLiteral(l).sql == l.sql)
    assert(BoundLiteral(l).eval() == 17664L)
  }
}
