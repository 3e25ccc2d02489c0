package graft

import graft.functions.GraftFunctions
import graft.sources.Readers

class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions match the Column API") {
    GraftFunctions.register(spark)
    Seq((1, "the quick brown fox and the dog")).toDF("id", "text")
      .createOrReplaceTempView("t_docs")
    val row = spark.sql(
      """SELECT token_count(text) tc, lang_id(text) lang,
                quality_score(text) q, doc_fingerprint(text) fp,
                size(minhash_sig(transform(char_shingles(text, 5), s -> cast(hash(s) as bigint)), 64)) sig_len
         FROM t_docs""").head()
    assert(row.getInt(0) == 7)
    assert(row.getString(1) == "en")
    assert(row.getDouble(2) > 0 && row.getDouble(2) <= 1.0)
    assert(row.getString(3).length == 32)
    assert(row.getInt(4) == 64)
  }

  test("vector SQL functions compute cosine over array columns") {
    GraftFunctions.register(spark)
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)), (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b").createOrReplaceTempView("t_vecs")
    val sims = spark.sql("SELECT cosine_sim(a, b) c FROM t_vecs ORDER BY c DESC")
      .collect().map(_.getDouble(0))
    assert(sims(0) == 1.0 && sims(1) == 0.0)
    // int8 + simhash SQL surface
    val r = spark.sql(
      """SELECT cosine_int8(quantize_int8(a).q, quantize_int8(b).q) c,
                simhash64('the quick brown fox') sh
         FROM t_vecs ORDER BY c DESC""").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) != 0L)
  }

  test("native cosine kernel is bit-identical to the HOF formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((Array.fill(64)(rnd.nextFloat() * 2 - 1),
                              Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("native"),
              SqlFunctionsSpec.cosineHof(col("a"), col("b")).as("hof"))
    // bit-identical, not approximately equal: the kernel must be swappable
    // under the gate's round(...,4)-then-hash comparison
    assert(df.filter(col("native") =!= col("hof") || col("native").isNull).count() == 0)
    // edge rows evaluate through the NATIVE kernel only (the HOF divide may
    // throw under ANSI): zero norm and length mismatch both yield null
    val edges = Seq((Array.fill(64)(0.0f), Array.fill(64)(1.0f)),
                    (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b").select(VectorOps.cosine(col("a"), col("b")).as("native"))
    assert(edges.filter(col("native").isNull).count() == 2)
  }

  test("native normalize kernel is bit-identical to the HOF formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(200)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val df = rows.toDF("a")
      .select(VectorOps.normalized(col("a")).as("native"),
              SqlFunctionsSpec.normalizedHof(col("a")).as("hof"))
    // element-for-element bit equality (null-safe: both null or both equal)
    assert(df.filter(not(col("native") <=> col("hof"))).count() == 0)
    // zero norm -> null; empty -> null; null element -> ALL-null array of
    // the input's length (the HOF convention the kernel must reproduce)
    val zero = Seq(Array.fill(8)(0.0f)).toDF("a")
      .select(VectorOps.normalized(col("a")).as("n"))
    assert(zero.filter(col("n").isNull).count() == 1)
    val empty = Seq(Seq.empty[Float]).toDF("a")
      .select(VectorOps.normalized(col("a")).as("n"))
    assert(empty.filter(col("n").isNull).count() == 1)
    val withNull = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS a")
      .select(VectorOps.normalized(col("a")).as("native"),
              SqlFunctionsSpec.normalizedHof(col("a")).as("hof"))
    val r = withNull.head()
    assert(r.getSeq[Any](0) == Seq(null, null) && r.getSeq[Any](0) == r.getSeq[Any](1))
  }

  test("native int8 dot kernel is bit-identical to the HOF formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)((Array.fill(64)(rnd.nextInt(255) - 127),
                              Array.fill(64)(rnd.nextInt(255) - 127)))
    val df = rows.toDF("a", "b")
      .select(VectorOps.dotInt8(col("a"), col("b")).as("native"),
              SqlFunctionsSpec.dotInt8Hof(col("a"), col("b")).as("hof"))
    assert(df.filter(col("native") =!= col("hof") || col("native").isNull).count() == 0)
    // length mismatch and a null element both yield null, like zip_with
    val edges = Seq((Array(1, 2), Array(1, 2, 3)))
      .toDF("a", "b")
      .select(VectorOps.dotInt8(col("a"), col("b")).as("native"))
      .union(Seq(1).toDF("x").select(VectorOps.dotInt8(
        array(lit(1), lit(null).cast("int")), array(lit(1), lit(2))).as("native")))
    assert(edges.filter(col("native").isNull).count() == 2)
  }

  test("int8 quantization: codes clamp to ±127, max-abs hits 127, cosine tracks float") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(200)((Array.fill(64)(rnd.nextFloat() * 2 - 1),
                              Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .select(VectorOps.quantizeInt8(col("a")).as("qa"),
              VectorOps.quantizeInt8(col("b")).as("qb"),
              SqlFunctionsSpec.cosineHof(col("a"), col("b")).as("exact"))
      .select(col("qa"), col("qb"), col("exact"),
              VectorOps.cosineInt8(col("qa.q"), col("qb.q")).as("approx"))
    val bad = df.filter(
      array_max(transform(col("qa.q"), x => abs(x))) > 127 ||
      array_max(transform(col("qa.q"), x => abs(x))) =!= 127 || // max-abs component must land exactly on ±127
      abs(col("approx") - col("exact")) > 0.01)
    assert(bad.count() == 0)
    // dequantized values reconstruct the original within half a step
    val recon = rows.take(1).toDF("a", "b")
      .select(col("a"), VectorOps.quantizeInt8(col("a")).as("qa"))
      .select(explode(zip_with(col("a"),
        transform(col("qa.q"), q => q.cast("double") * col("qa.scale")),
        (orig, deq) => abs(orig.cast("double") - deq))).as("err"),
        col("qa.scale").as("s"))
    assert(recon.filter(col("err") > col("s") * 0.5 + 1e-12).count() == 0)
  }

  test("CSV reader decodes non-UTF8 encodings (reference iconv feature)") {
    val dir = java.nio.file.Files.createTempDirectory("enc").toString
    val content = "id;name\n1;Müller\n2;Garçon\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/latin1.csv"),
      content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val df = Readers.csv(spark, s"$dir/latin1.csv", delimiter = ";",
      headers = true, encoding = "ISO-8859-1")
    val names = df.select("name").as[String].collect().sorted
    assert(names.toSeq == Seq("Garçon", "Müller"))
  }
}

/** The HOF formulations of the native vector kernels — the readable
  * reference semantics the kernel tests above cross-check bit for bit.
  */
object SqlFunctionsSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import graft.functions.VectorOps

  def cosineHof(a: Column, b: Column): Column =
    VectorOps.dot(a, b) / (VectorOps.l2Norm(a) * VectorOps.l2Norm(b))

  def normalizedHof(a: Column): Column = {
    val n = VectorOps.l2Norm(a)
    when(n === lit(0.0), lit(null).cast("array<double>"))
      .otherwise(transform(transform(a, x => x.cast("double")), x => x / n))
  }

  def dotInt8Hof(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)
}
