package graft.functions

import graft.core.Term
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** LOSSLESS fixed-order serialization of term structs into ONE binary
  * column, and its exact inverse — the narrow dedup/exchange key for
  * set-semantics shuffles over wide Term structs (guide §2.3 "shuffle
  * keys and metadata instead of payloads", round-16: the RDFS
  * entailment dedup).
  *
  * Why not an existing encoding: [[Term.encode]] is canonical for
  * oracle parity but LOSSY on doubles (`%.2f`), and the N-Triples
  * token codec normalizes relative/absolute IRI spellings — a dedup
  * key must be INJECTIVE on every representable term or distinct
  * triples silently merge. This codec is injective by construction:
  * byte layout per term is `kind(1) · nullmask(1) · [len(4)+utf8]lex ·
  * [bits(8)]num · [len(4)+utf8]lang · [len(4)+utf8]datatype`, fields
  * in fixed order with explicit lengths (no separator can collide with
  * payload bytes), doubles as `doubleToLongBits(v + 0.0)`: −0.0 packs
  * as 0.0 and every NaN payload as the one canonical NaN, so the packed
  * key equates exactly the doubles Spark's struct grouping equates.
  * `unpackTermAt(pack(ts), i) ≡ ts(i)` for every term kind, up to that
  * double canonicalization — TermInteropSpec pins the round-trip and
  * the dedup equivalence over all kinds and adversarial field values.
  */
object TermPackExpressions {

  private val NullStruct: Byte = 0x7E

  /** N term structs → one binary. Null STRUCTS (unbound optionals)
    * pack as a distinct marker byte, so null-safe grouping semantics
    * survive (`null` is its own equivalence class, as with struct
    * grouping keys). */
  case class TermsPack(children: Seq[Expression])
      extends Expression with CodegenFallback {
    require(children.nonEmpty, "pack at least one term")
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val out = new java.io.ByteArrayOutputStream(64)
      val w = new java.io.DataOutputStream(out)
      var i = 0
      while (i < children.length) {
        children(i).eval(input) match {
          case null => w.writeByte(NullStruct)
          case r: InternalRow =>
            w.writeByte(r.getByte(0))
            val hasLex = !r.isNullAt(1)
            val hasNum = !r.isNullAt(2)
            val hasLang = !r.isNullAt(3)
            val hasDt = !r.isNullAt(4)
            w.writeByte((if (hasLex) 1 else 0) | (if (hasNum) 2 else 0) |
              (if (hasLang) 4 else 0) | (if (hasDt) 8 else 0))
            def str(u: UTF8String): Unit = {
              val b = u.getBytes
              w.writeInt(b.length); w.write(b)
            }
            if (hasLex) str(r.getUTF8String(1))
            if (hasNum) w.writeLong(
              java.lang.Double.doubleToLongBits(r.getDouble(2) + 0.0))
            if (hasLang) str(r.getUTF8String(3))
            if (hasDt) str(r.getUTF8String(4))
        }
        i += 1
      }
      w.flush()
      out.toByteArray
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }

  /** The `idx`-th term of a [[TermsPack]] binary, back as a struct —
    * the inverse (canonical doubles, byte-exact strings). An `idx` past
    * the packed terms fails with an out-of-range error. */
  case class TermUnpackAt(child: Expression, idx: Int)
      extends UnaryExpression with CodegenFallback {
    require(idx >= 0, "index must be non-negative")
    override def dataType: DataType = Term.schema
    override def nullable: Boolean = true
    override protected def nullSafeEval(a: Any): Any = {
      val buf = a.asInstanceOf[Array[Byte]]
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(buf))
      var k = 0
      var result: Any = null
      while (k <= idx) {
        if (in.available() == 0) throw new IllegalArgumentException(
          s"index $idx out of range for packed terms ($k present)")
        val kind = in.readByte()
        if (kind == NullStruct) {
          if (k == idx) result = null
        } else {
          val mask = in.readByte()
          def str(): UTF8String = {
            val n = in.readInt()
            val b = new Array[Byte](n)
            in.readFully(b)
            UTF8String.fromBytes(b)
          }
          val lex = if ((mask & 1) != 0) str() else null
          val num: Any = if ((mask & 2) != 0)
            java.lang.Double.longBitsToDouble(in.readLong()) else null
          val lang = if ((mask & 4) != 0) str() else null
          val dt = if ((mask & 8) != 0) str() else null
          if (k == idx)
            result = InternalRow(kind, lex, num, lang, dt)
        }
        k += 1
      }
      result
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def packTerms(cols: Column*): Column =
    GraftSqlBridge.column(TermsPack(cols.map(GraftSqlBridge.expression)))

  def unpackTermAt(packed: Column, idx: Int): Column =
    GraftSqlBridge.column(
      TermUnpackAt(GraftSqlBridge.expression(packed), idx))
}
