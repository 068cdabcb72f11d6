package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions (with `doGenCode`) for the two hottest
 * predicates — native expressions stay inside whole-stage codegen where a
 * Scala UDF would force an encoder boundary per row:
 *
 *  - `BloomMightContain` / `ShardedBloomProbe`: the seen-set prefilter
 *    probe (J1). At 10^10-URL scale this runs once per candidate URL per
 *    generation; the generated code calls straight into the sketch with no
 *    boxing/Option allocation.
 *  - `HammingDistance`: SimHash near-dup verification — compiles to
 *    `Long.bitCount(a ^ b)`.
 *
 * Both are pure/deterministic (Catalyst may reorder, dedup, push them).
 */
case class BloomMightContain(child: Expression, sketchBytes: Array[Byte])
    extends UnaryExpression {

  // one deserialization per task (the expression instance is task-local)
  @transient private lazy val sketch: BloomSketch = BloomSketch.deserialize(sketchBytes)

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(v: Any): Any =
    sketch.mightContain(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the deserialized sketch rides the plan's reference array (shipped once
    // per stage via the task-binary broadcast, not per row)
    val ref = ctx.addReferenceObj("bloomSketch", sketch, classOf[BloomSketch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.mightContain($c.toString());")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/**
 * Seen-sketch probe over a SPARK BROADCAST snapshot (`ShardedBloom`, bloom
 * or cuckoo shards) — the sketch ships to each executor ONCE via torrent
 * broadcast; the expression itself (and the stage task binary) carries only
 * the broadcast HANDLE. Round 1 embedded the serialized sketch in the plan's
 * reference array, re-shipping it with every stage — fine at MBs, a
 * per-stage tax at north-scale geometries.
 */
case class ShardedBloomProbe(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[ShardedBloom])
    extends UnaryExpression {

  @transient private lazy val sketch: ShardedBloom = bc.value

  override def dataType: DataType = BooleanType
  override def prettyName: String = "sharded_bloom_probe"

  override protected def nullSafeEval(v: Any): Any =
    sketch.mightContain(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("shardedBloomBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val skName = ctx.addMutableState(classOf[ShardedBloom].getName, "shardedBloom",
      v => s"$v = (${classOf[ShardedBloom].getName}) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $skName.mightContain($c.toString());")
  }

  override protected def withNewChildInternal(newChild: Expression): ShardedBloomProbe =
    copy(child = newChild)
}

case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_distance"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

/**
 * Whitespace token count WITHOUT materialising the split — exactly
 * `size(split(text, " ", -1))` (= spaces + 1, empty tokens included, "" ⇒ 1)
 * but as a single byte scan: the builtin allocates the full token array per
 * row just to take its length, which on a 100-TB text scan is the dominant
 * allocation of the sampling/quality base selects (q12/q41/q42/q44, the
 * quality gate's token floor). Byte-scanning is UTF-8-exact: 0x20 never
 * occurs inside a multibyte sequence (continuation bytes are ≥ 0x80).
 */
case class WsTokenCount(child: Expression) extends UnaryExpression {

  // non-string children must fail ANALYSIS, not execution (AbstractDataType
  // is sql-private, so the check is spelled out instead of ExpectsInputTypes)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ws_token_count requires a string child, got ${child.dataType.catalogString}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "ws_token_count"

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val bytes = s.numBytes()
    var n = 1
    var i = 0
    while (i < bytes) { if (s.getByte(i) == 0x20) n += 1; i += 1 }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""int $n = 1;
         |for (int $i = 0; $i < $c.numBytes(); $i++) {
         |  if ($c.getByte($i) == 0x20) $n++;
         |}
         |${ev.value} = $n;""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WsTokenCount =
    copy(child = newChild)
}

object NativeExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{toColumn, toExpression}

  /** Column API for the bloom probe. */
  def bloomMightContain(c: Column, sketch: BloomSketch): Column =
    toColumn(BloomMightContain(toExpression(c), sketch.serialize()))

  /** Column API for the broadcast seen-sketch probe. */
  def shardedBloomProbe(c: Column,
      bc: org.apache.spark.broadcast.Broadcast[ShardedBloom]): Column =
    toColumn(ShardedBloomProbe(toExpression(c), bc))

  /** Column API for hamming distance over two 64-bit fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    toColumn(HammingDistance(toExpression(a), toExpression(b)))

  /** Column API for the allocation-free whitespace token count. */
  def wsTokenCount(c: Column): Column =
    toColumn(WsTokenCount(toExpression(c)))
}
