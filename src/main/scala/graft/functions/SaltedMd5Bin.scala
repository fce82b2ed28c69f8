package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-stage-codegen `md5(input || salt)` as a 16-byte BINARY value.
  *
  * The minhash signature aggregate evaluates `min(md5(s || '#i'))` for
  * NumHashes salts per shingle row. The built-in spelling pays, per salt
  * per row: a concat allocation, a fresh MessageDigest instance, and a
  * 32-character hex UTF8String allocation, with the min comparing those
  * 32-char strings. This expression digests the input bytes and the
  * (constant) salt bytes in two `update` calls on a THREAD-LOCAL
  * MessageDigest — no concat, no per-call instance, no hex — and returns
  * the raw 16-byte digest.
  *
  * Equivalence to the string formulation (relied on by [[graft.operators.NearDup]]):
  * hex encoding maps each byte to two characters monotonically, so
  * unsigned-lexicographic order on equal-length byte arrays (Spark's
  * BinaryType ordering) is EXACTLY the lexicographic order of their
  * lowercase-hex strings. Hence
  * `lower(hex(min(SaltedMd5Bin(s, salt)))) == min(md5(concat(s, salt)))`
  * bit-for-bit — the hex conversion happens once per GROUP instead of once
  * per row, and NearDupSpec pins the identity against the built-in.
  */
case class SaltedMd5Bin(child: Expression, salt: String)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType

  // the salt bytes are a per-expression constant: encoded once, not per row
  @transient private lazy val saltBytes = salt.getBytes("UTF-8")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"SaltedMd5Bin requires a string input, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    SaltedMd5Bin.digest(input.asInstanceOf[UTF8String], saltBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // hoist the salt bytes into a field so the per-row code is two digest
    // updates and one final
    val saltRef = ctx.addReferenceObj("salt", saltBytes, "byte[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SaltedMd5Bin.digest($c, $saltRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): SaltedMd5Bin =
    copy(child = newChild)
}

object SaltedMd5Bin {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5(input bytes ++ salt bytes) on a reused per-thread digest. */
  def digest(input: UTF8String, salt: Array[Byte]): Array[Byte] = {
    val d = md.get()
    d.reset()
    d.update(input.getBytes)
    d.update(salt)
    d.digest()
  }

  def apply(c: Column, salt: String): Column =
    Bridge.column(SaltedMd5Bin(Bridge.expression(c), salt))
}
