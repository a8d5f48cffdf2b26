package graft.sources

import org.apache.spark.sql.types.{TimestampType, ArrayType, FloatType}

import graft.SparkSpec
import graft.core.{Report, SemanticType}

class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("nanosecond event timestamps load as microsecond TimestampType, ordered") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val ts = ev.orderBy("event_id").limit(3).collect().map(_.getTimestamp(1))
    assert(ts.forall(_ != null))
    assert(ts(0).before(ts(1)) && ts(1).before(ts(2)))
  }

  test("all ten corpus tables load with rows") {
    Tables.All.foreach { t =>
      assert(Tables.load(spark, dir, t).count() > 0, t)
    }
  }

  test("describe on an array (VECTOR) column counts whole vectors as distinct values") {
    val emb = Tables.embeddings(spark, dir)
    assert(emb.schema("embedding").dataType === ArrayType(FloatType, containsNull = true))
    val p = Report(emb, key = Some("vec_id")).describe(Seq("embedding")).head
    assert(p.contentType === SemanticType.Vector)
    assert(p.stats("count") === 500L)
    assert(p.stats("distinct_count") === 500L) // all vectors distinct
    assert(p.stats("is_unique") === true)
    assert(!p.stats.contains("mean")) // no numeric block for vectors
  }

  test("describe counts embeddings differing only in the sign of a zero as one vector") {
    val s = spark
    import s.implicits._
    val first = Tables.embeddings(spark, dir).orderBy("vec_id").head().getSeq[Float](1)
    val signed = Seq((1L, 0.0f +: first.tail), (2L, -0.0f +: first.tail)).toDF("vec_id", "embedding")
    val p = Report(signed, key = Some("vec_id")).describe(Seq("embedding")).head
    assert(p.stats("count") === 2L)
    assert(p.stats("distinct_count") === 1L)
  }
}
