package graft

import graft.functions.{BloomSketch, NativeExpressions, TextFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NativeExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("BloomMightContain: no false negatives through codegen; nulls propagate") {
    val s = spark
    import s.implicits._
    val sketch = BloomSketch.create(10000, 0.01)
    val in = (0 until 5000).map(i => s"http://h$i.example/p$i")
    in.foreach(sketch.put)
    val df = (in ++ (0 until 5000).map(i => s"http://out$i.example/x"))
      .toDF("url")
      .withColumn("maybe", NativeExpressions.bloomMightContain(col("url"), sketch))
    val rows = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(in.forall(rows(_)), "false negative through the native expression")
    val fp = (0 until 5000).count(i => rows(s"http://out$i.example/x"))
    assert(fp < 5000 * 0.05, s"fp=$fp")
    // null in ⇒ null out
    val withNull = Seq(Some("http://h0.example/p0"), None).toDF("url")
      .withColumn("maybe", NativeExpressions.bloomMightContain(col("url"), sketch))
    assert(withNull.filter(col("maybe").isNull).count() == 1)
  }

  test("BloomMightContain interpreted path (eval) agrees with codegen") {
    val s = spark
    import s.implicits._
    val sketch = BloomSketch.create(100, 0.01)
    sketch.put("a"); sketch.put("b")
    val expr = graft.functions.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal.create("a",
        org.apache.spark.sql.types.StringType), sketch.serialize())
    assert(expr.eval(null) == true)
  }

  test("ShardedBloomProbe over cuckoo shards: no false negatives via codegen and eval; " +
      "a snapshot read after deletes answers as the live shards do") {
    val s = spark
    import s.implicits._
    import graft.functions.{ShardStore, ShardedBloom, ShardedBloomProbe}
    def url(i: Long) = s"http://h$i.example/p$i"
    val in = (0L until 4000L).map(url)
    val victims = (0L until 4000L by 8).map(url)
    val live = ShardStore.update(
        ShardStore.build(in.toDS(), 8, "cuckoo", 1024, 0.01), victims.toDS(), delete = true)
      .persist()
    // the snapshot is read from the post-delete checkpoint files, as the loop does
    val dir = java.nio.file.Files.createTempDirectory("graft-snapshot").toString
    ShardStore.write(live, dir)
    val bc = spark.sparkContext.broadcast(
      new ShardedBloom(ShardStore.readDir(new graft.plans.TableIO(dir), dir, 8).toArray))
    val all = (0L until 8000L).map(url)
    val want = ShardStore.probe(all.map(u => (u, "h")).toDS(), live).collect()
      .map(t => t._1 -> t._3).toMap
    // range source: a local Seq would be constant-folded through eval
    val df = spark.range(8000)
      .withColumn("url", concat(lit("http://h"), col("id"), lit(".example/p"), col("id")))
      .select(col("url"), NativeExpressions.shardedBloomProbe(col("url"), bc).as("maybe"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("sharded_bloom_probe") && plan.contains("*(1)"), plan)
    val got = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == want, "snapshot probe disagrees with the live shards")
    assert((in.toSet -- victims).forall(got(_)), "false negative through codegen")
    assert(victims.count(got(_)) < victims.size / 10, "deletes not visible in the snapshot")
    // interpreted (eval) path agrees too
    (0L until 8000L by 7).map(url).foreach { u =>
      assert(ShardedBloomProbe(
        org.apache.spark.sql.catalyst.expressions.Literal(u), bc).eval(null) == want(u), u)
    }
    live.unpersist()
    bc.destroy()
  }

  test("HammingDistance matches the pure function") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val pairs = (1 to 200).map(_ => (rnd.nextLong(), rnd.nextLong()))
    val got = pairs.toDF("a", "b")
      .withColumn("d", NativeExpressions.hammingDistance(col("a"), col("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    got.foreach { case (a, b, d) =>
      assert(d == TextFunctions.hammingDistance(a, b))
    }
  }

  test("expressions appear inside WholeStageCodegen (no UDF boundary)") {
    val sketch = BloomSketch.create(100, 0.01)
    sketch.put("http://h1.example/p1")
    // range source: a local Seq would be constant-folded away entirely
    // (ConvertToLocalRelation evaluates the deterministic expression at
    // plan time — itself proof the expression is optimizer-visible)
    val df = spark.range(10)
      .withColumn("url", concat(lit("http://h"), col("id"), lit(".example/p")))
      .filter(NativeExpressions.bloomMightContain(col("url"), sketch))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Filter bloom_might_contain"), plan)
    df.collect() // executes the generated code path
  }

  test("WsTokenCount ≡ size(split(text, ' ')) incl. empty/space-edge/unicode; nulls propagate") {
    val s = spark
    import s.implicits._
    val fixtures = Seq(
      "", " ", "  ", "a", "a b", " a b ", "a  b", "a b c d e",
      "tabs\tand\nnewlines stay one token each",
      "héllo wörld", "日本語 テキスト と spaces", "emoji 🎉 party 🎊 ok",
      "trailing space ", " leading", "x" * 500 + " tail", null)
    val df = fixtures.toDF("text")
      .select(col("text"),
        NativeExpressions.wsTokenCount(col("text")).as("native"),
        size(split(col("text"), " ")).as("builtin"))
    df.collect().foreach { r =>
      if (r.isNullAt(0)) {
        // builtin size(split(null)) is null with sizeOfNull=false; native must agree
        assert(r.isNullAt(1) && r.isNullAt(2))
      } else assert(r.getInt(1) == r.getInt(2), s"text=${r.getString(0)}")
    }
    // the generated code path really runs inside whole-stage codegen — over a
    // range source (the literal fixture above constant-folds to a
    // LocalTableScan, itself proof the expression is optimizer-visible)
    val ranged = spark.range(100)
      .withColumn("text", concat(lit("a b "), col("id").cast("string")))
      .select(NativeExpressions.wsTokenCount(col("text")).as("n"))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("ws_token_count") && plan.contains("*(1)"), plan)
    assert(ranged.collect().forall(_.getInt(0) == 3)) // "a b <id>" = 3 tokens
    // interpreted (eval) path agrees too — a raw Catalyst literal child
    // (the Column bridge wraps lit() as an unevaluable plan node)
    val expr = graft.functions.WsTokenCount(
      org.apache.spark.sql.catalyst.expressions.Literal("a b  c"))
    assert(expr.eval(null) == 4) // "a b  c": 3 spaces ⇒ 4 split elements
  }
}
