package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{VectorModelExpression, Vectors}
import graft.operators.{IvfIndex, PqIndex}

/** The vector-model expressions (`nearest_centroids`, `pq_encode`,
  * `adc_table`) against the expression trees they replace, built here from
  * literal codewords exactly as the models built them: unit vector, then
  * one `l2_squared`/`dot` node per codeword, ordered by `array_min` /
  * `array_sort` over `struct(d, i)`. Doubles are compared by raw bits.
  */
class VectorModelExpressionsSpec extends SparkSpec {

  private object Trees {
    private def scored(dist: Column, book: Array[Array[Float]]): Column =
      array(book.toSeq.zipWithIndex.map { case (cw, i) =>
        struct(Vectors.l2sq(dist, typedlit(cw.toSeq)).as("d"), lit(i).as("i"))
      }: _*)

    def probe(emb: Column, cents: Array[Array[Float]], n: Int): Column =
      transform(slice(array_sort(scored(Vectors.unit(emb), cents)), 1, n), _.getField("i"))

    def bucket(emb: Column, cents: Array[Array[Float]]): Column =
      array_min(scored(Vectors.unit(emb), cents)).getField("i")

    private def sub(emb: Column, books: Array[Array[Array[Float]]], j: Int): Column = {
      val dSub = books.head.head.length
      slice(Vectors.unit(emb), j * dSub + 1, dSub)
    }

    def encode(emb: Column, books: Array[Array[Array[Float]]]): Column =
      array(books.indices.map(j => array_min(scored(sub(emb, books, j), books(j))).getField("i")): _*)

    def adc(emb: Column, books: Array[Array[Array[Float]]]): Column =
      array(books.indices.map { j =>
        array(books(j).toSeq.map(cw => Vectors.dot(sub(emb, books, j), typedlit(cw.toSeq)).cast("double")): _*)
      }: _*)
  }

  /** `spark` with every projection interpreted, or every one compiled
    * (whole-stage codegen with no fallback to interpretation).
    */
  private def session(codegen: Boolean): SparkSession = {
    val s = shims.cloneSession(spark)
    s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    s.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    s.conf.set("spark.sql.codegen.fallback", (!codegen).toString)
    s
  }

  private val Dim = 6

  // few distinct values, so distances tie and ids break the ties
  private val elem: Gen[Float] = Gen.frequency(
    12 -> Gen.oneOf(-1f, 0f, 0.5f, 1f, 2f), 1 -> Gen.const(Float.NaN))
  private val vec: Gen[Option[Seq[Float]]] = Gen.frequency(
    2 -> Gen.const(None),
    2 -> Gen.const(Some(Seq.fill(Dim)(0f))),
    12 -> Gen.listOfN(Dim, elem).map(Some(_)),
    4 -> Gen.choose(0, Dim + 3).flatMap(n => Gen.listOfN(n, elem)).map(Some(_)))
  private def book(n: Int, width: Int): Gen[Array[Array[Float]]] =
    Gen.listOfN(n, Gen.listOfN(width, Gen.oneOf(-1f, 0f, 0.5f, 1f)).map(_.toArray))
      .map(cs => (cs :+ cs.head).toArray) // a duplicate codeword: an exact tie

  private val cases = for {
    k <- Gen.choose(1, 5)
    cents <- book(k, Dim)
    books <- Gen.listOfN(3, book(3, Dim / 3)).map(_.toArray)
    vectors <- Gen.listOfN(40, vec)
  } yield (cents, books, vectors)

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  Seq(false, true).foreach { codegen =>
    val mode = if (codegen) "codegen" else "interpreted"
    test(s"vector-model expressions equal the tree forms bit-for-bit ($mode)") {
      val s = session(codegen)
      val schema = StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("e", ArrayType(FloatType, containsNull = false), nullable = true)))
      (0 until 8).flatMap(i => cases(Gen.Parameters.default, Seed(7L + i))).zipWithIndex.foreach {
        case ((cents, books, vectors), i) =>
          val ivf = IvfIndex.Model(cents)
          val pq = PqIndex.Model(books)
          val rows = vectors.zipWithIndex.map { case (v, id) => Row(id.toLong, v.orNull) }
          // an RDD source, so the projection runs in a task, not folded on the driver
          val df = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
          val k = cents.length
          val probes = Seq(1, 3, k, k + 1).distinct
          for (emb <- Seq(col("e"), col("e").cast("array<double>"))) {
            val pairs: Seq[(String, Column, Column)] =
              Seq(("bucket", ivf.bucketOf(emb), Trees.bucket(emb, cents)),
                ("encode", pq.encode(emb), Trees.encode(emb, books)),
                ("adc", pq.adcTable(emb), Trees.adc(emb, books))) ++
                probes.map(n => (s"probe$n", ivf.probeBuckets(emb, n), Trees.probe(emb, cents, n)))
            val out = df.select(col("id") +: pairs.flatMap { case (_, a, b) => Seq(a, b) }: _*)
            pairs.indices.foreach { p =>
              val (name, _, _) = pairs(p)
              val (got, want) = (out.schema(1 + 2 * p), out.schema(2 + 2 * p))
              assert((got.dataType, got.nullable) == (want.dataType, want.nullable),
                s"case $i $name: ${got.dataType} ${got.nullable} != ${want.dataType} ${want.nullable}")
            }
            out.collect().foreach { r =>
              pairs.indices.foreach { p =>
                assert(bits(r.get(1 + 2 * p)) == bits(r.get(2 + 2 * p)),
                  s"case $i ${pairs(p)._1} row ${r.get(0)} (${vectors(r.getLong(0).toInt)}): " +
                    s"${r.get(1 + 2 * p)} != ${r.get(2 + 2 * p)}")
              }
            }
          }
      }
    }
  }

  test("null embedding: probes [0 … nProbe-1], bucket 0, zero codes, a table of nulls") {
    val ivf = IvfIndex.Model(Array(Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f)))
    val pq = PqIndex.Model(Array.fill(2)(Array(Array(1f), Array(-1f))))
    val r = spark.range(1).select(lit(null).cast("array<float>").as("e"))
      .select(ivf.probeBuckets(col("e"), 2), ivf.probeBuckets(col("e"), 5), ivf.bucketOf(col("e")),
        pq.encode(col("e")), pq.adcTable(col("e")))
      .head
    assert(r.getSeq[Int](0) == Seq(0, 1) && r.getSeq[Int](1) == Seq(0, 1, 2))
    assert(r.getInt(2) == 0 && r.getSeq[Int](3) == Seq(0, 0))
    assert(r.getSeq[scala.collection.Seq[Any]](4).map(_.toList) == Seq(List(null, null), List(null, null)))
  }

  test("models built from equal arrays give equal expressions and equal plan strings") {
    val cents = Array(Array(0.6f, 0.8f), Array(-1f, 0f))
    val books = Array(Array(Array(1f), Array(-1f)), Array(Array(0.5f), Array(-0.5f)))
    def copy2(a: Array[Array[Float]]) = a.map(_.clone)
    val (i1, i2) = (IvfIndex.Model(cents), IvfIndex.Model(copy2(cents)))
    val (p1, p2) = (PqIndex.Model(books), PqIndex.Model(books.map(copy2)))
    val df = spark.range(1).select(typedlit(Seq(1f, 2f)).as("e"))
    def plan(cols: Column*) = Bench.normalizePlan(df.select(cols: _*).queryExecution.optimizedPlan.toString)
    def exprs(cols: Column*) = df.select(cols: _*).queryExecution.analyzed.expressions
      .flatMap(_.collect { case e: VectorModelExpression => e })
    val a = Seq(i1.probeBuckets(col("e"), 2), i1.bucketOf(col("e")), p1.encode(col("e")), p1.adcTable(col("e")))
    val b = Seq(i2.probeBuckets(col("e"), 2), i2.bucketOf(col("e")), p2.encode(col("e")), p2.adcTable(col("e")))
    assert(exprs(a: _*).length == 4 && exprs(a: _*) == exprs(b: _*))
    assert(plan(a: _*) == plan(b: _*))
    assert(!plan(a: _*).contains("[F@"), plan(a: _*))
    // a different model is a different expression
    val other = IvfIndex.Model(Array(Array(0.8f, 0.6f), Array(-1f, 0f)))
    assert(exprs(other.probeBuckets(col("e"), 2)) != exprs(a.head))
  }
}
