package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.BridgeTypes.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-bigram (h1, h2) hash pairs of a token array in ONE native loop:
  * element i is (xxhash64(token_i), xxhash64("token_i token_i+1")) —
  * bit-identical to
  * `(ShingleHashes(toks, 1)(i), ShingleHashes(toks, 2)(i))` (XXH64
  * seed 42 over the space-joined window, Spark's `xxhash64` parity).
  *
  * Why a paired expression exists at all: the bigram language model
  * (q72) needs BOTH the bigram hash and its first token's hash per
  * position. Selecting them separately —
  * `posexplode(shinglehashes(toks, 2))` plus
  * `element_at(shinglehashes(toks, 1), pos + 1)` — collapses under
  * Catalyst so the per-BIGRAM projection re-evaluates the whole doc's
  * token-hash pass for every bigram row: O(n²) hashing per n-token
  * document (and every generated row drags the full `toks` array
  * through the Generate). Emitting the pair as one array of structs
  * makes the Generate consume a single per-DOC expression — nothing
  * downstream references `toks` — restoring the linear cost.
  *
  * Each token is hashed once (h1 of bigram i is reused as input state
  * for nothing — token hashes and window hashes are independent XXH64
  * runs, exactly as the two ShingleHashes calls produced them). */
case class BigramHashes(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType, containsNull = false))

  // the array type check ignores element nullability, but pairs()
  // reads every element unguarded: a nullable-element array must be
  // an analysis error, not an NPE at run time
  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess
          if child.dataType.asInstanceOf[ArrayType].containsNull =>
        TypeCheckResult.TypeCheckFailure(
          s"bigram_hashes requires array<string> with non-null elements, " +
            s"got ${child.dataType.sql} with nullable elements")
      case other => other
    }

  override def dataType: DataType = BigramHashes.outType

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any =
    pairs(input.asInstanceOf[ArrayData])

  def pairs(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = toks.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val next = toks.getUTF8String(i + 1)
      val h1 = XXH64.hashUnsafeBytes(
        prev.getBaseObject, prev.getBaseOffset, prev.numBytes, 42L)
      val w = UTF8String.concatWs(sep, prev, next)
      val h2 = XXH64.hashUnsafeBytes(
        w.getBaseObject, w.getBaseOffset, w.numBytes, 42L)
      out(i) = new GenericInternalRow(Array[Any](h1, h2))
      prev = next
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bigramHashes", this, classOf[BigramHashes].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.pairs($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramHashes =
    copy(child = newChild)
}

object BigramHashes {
  import org.apache.spark.sql.graftbridge.Bridge

  val outType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)

  def bigramHashes(tokens: Column): Column =
    Bridge.toColumn(BigramHashes(Bridge.toExpression(tokens)))
}
