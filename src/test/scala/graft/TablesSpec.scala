package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the testdata schema contract (round-5 verdict item 4).
  *
  * The driver regenerates /root/testdata between rounds and has already
  * changed `events.ts` encoding once (TIMESTAMP(NANOS) → timestamp[us]
  * NTZ), silently breaking every watermark/`unix_micros` consumer. This
  * spec asserts the dtypes the LOADERS promise downstream, so the next
  * encoding drift is a named red test, not two vanished queries:
  *  - `Tables.events.ts` is plain TimestampType (normalized, whatever the
  *    parquet writer chose);
  *  - `embeddings.embedding` is array<float>;
  *  - key/measure/text columns keep their integral/floating/string class;
  *  - temporal columns (`o_orderdate`, `l_shipdate`) are datetime-typed.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def dtype(df: org.apache.spark.sql.DataFrame, c: String): DataType =
    df.schema(c).dataType

  private def isIntegral(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType || dt == ShortType || dt == ByteType

  private def assertDatetime(dt: DataType, what: String): Unit =
    assert(dt == TimestampType || dt == TimestampNTZType || dt == DateType,
      s"$what must be datetime-typed, got $dt")

  test("events.ts is normalized to plain TimestampType (watermark-safe)") {
    val ev = Tables.events(spark, sf)
    assert(dtype(ev, "ts") == TimestampType,
      "Tables.events must normalize ts to TimestampType — withWatermark " +
        "and unix_micros reject TIMESTAMP_NTZ and LongType alike")
    assert(dtype(ev, "event_id") == LongType)
    assert(dtype(ev, "user_id") == LongType)
    assert(dtype(ev, "event_type") == StringType)
    assert(dtype(ev, "value") == DoubleType)
    // The normalization must be value-preserving: ts spans the generator's
    // date range, not 1970 (a wrong unit divisor would collapse it).
    val yr = ev.selectExpr("min(year(ts)) AS y").head().getInt(0)
    assert(yr >= 2000 && yr <= 2100, s"events.ts years look wrong: min year $yr")
  }

  test("streaming readEvents promises the same ts contract as Tables.events") {
    val ev = graft.streaming.EventsStream.readEvents(spark, sf)
    assert(ev.isStreaming)
    assert(dtype(ev, "ts") == TimestampType)
  }

  test("registerAll exposes the normalized events view to the SQL surface") {
    Tables.registerAll(spark, sf)
    assert(dtype(spark.table("events"), "ts") == TimestampType)
  }

  test("embeddings/documents keep the pipeline-facing dtypes") {
    val emb = Tables.embeddings(spark, sf)
    assert(dtype(emb, "embedding") == ArrayType(FloatType, containsNull = true) ||
      dtype(emb, "embedding") == ArrayType(FloatType, containsNull = false),
      s"embedding must be array<float>, got ${dtype(emb, "embedding")}")
    assert(dtype(emb, "vec_id") == LongType)
    assert(isIntegral(dtype(emb, "label")))
    val docs = Tables.documents(spark, sf)
    Seq("text", "lang", "source").foreach(c => assert(dtype(docs, c) == StringType))
    assert(dtype(docs, "doc_id") == LongType)
    assert(isIntegral(dtype(docs, "n_chars")))
  }

  test("star-schema keys, measures and temporal columns keep their type class") {
    val li = Tables.lineitem(spark, sf)
    Seq("l_orderkey", "l_partkey", "l_suppkey").foreach(c =>
      assert(isIntegral(dtype(li, c)), s"$c"))
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foreach(c =>
      assert(dtype(li, c) == DoubleType, s"$c"))
    assertDatetime(dtype(li, "l_shipdate"), "l_shipdate")
    val ord = Tables.orders(spark, sf)
    assertDatetime(dtype(ord, "o_orderdate"), "o_orderdate")
    assert(dtype(ord, "o_totalprice") == DoubleType)
    Seq("o_orderkey", "o_custkey").foreach(c =>
      assert(isIntegral(dtype(ord, c)), s"$c"))
    assert(dtype(Tables.customer(spark, sf), "c_acctbal") == DoubleType)
    assert(dtype(Tables.nation(spark, sf), "n_name") == StringType)
    assert(dtype(Tables.region(spark, sf), "r_name") == StringType)
    assert(dtype(Tables.supplier(spark, sf), "s_acctbal") == DoubleType)
    assert(dtype(Tables.part(spark, sf), "p_retailprice") == DoubleType)
  }

  test("a second load of every table runs no Spark job: the schema is resolved once") {
    val session = spark.newSession()
    Tables.all.foreach(Tables.load(session, sf, _))
    val again = SparkJobCount(session) {
      Tables.all.foreach(n => assert(Tables.load(session, sf, n).schema.nonEmpty, n))
    }
    assert(again == 0, s"$again Spark jobs in ${Tables.all.size} repeated loads")
    // the resolved schema is the inferred one
    Tables.all.foreach(n => assert(Tables.load(session, sf, n).schema ==
      session.read.parquet(s"$sf/$n.parquet").schema, n))
  }
}
