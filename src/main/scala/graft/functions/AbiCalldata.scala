package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{concat, hex, lit, lower, lpad, when}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import AbiSlot._
import AbiRead._
import AbiLayout.{decodeAt => decode}

/** F5 (native form): ABI calldata decode over real BinaryType — the
  * codegen'd analog of the reference's per-trace decoder dispatch
  * (brontes-classifier/src/classifiers/, decode via alloy `sol!` macros on
  * `&[u8]` calldata). Solidity ABI layout: a 4-byte function selector
  * followed by 32-byte big-endian words; uint values of practical size live
  * in each word's low 8 bytes. Event-log `data` and return data carry the
  * same words with no selector.
  *
  * Every decode below is one [[AbiDecode]] naming two choices, so a layout
  * is data ([[AbiLayout]] names each of its parameters' decodes as a
  * pair; these facade functions are the pairs by their SQL names):
  *   - an [[AbiSlot]], where the 32-byte word starts: a fixed word, a
  *     dynamic array's length or element, a field of an element of a
  *     dynamic array of static tuples, or a field of an offset-passed
  *     tuple;
  *   - an [[AbiRead]], what is read from that word: uint or signed int as
  *     BIGINT, a zero-padded address or a leading 20 bytes as hex, the
  *     4-byte selector, or a dynamic `string`/`bytes` (the length word,
  *     then that much content, NULL unless it all lies in the buffer).
  *
  * The byte walk lives once, in [[AbiKernel]]. `nullSafeEval` calls it,
  * and `doGenCode` emits a static call into it with the slot's constants
  * inlined (as Spark's own generated code calls `DateTimeUtils`), so the
  * interpreted and the generated path cannot drift apart, and a
  * decode-heavy projection stays inside whole-stage codegen: a fused
  * scan→decode→filter stage, no hex-string round trip, no virtual `eval`
  * per row.
  */
object AbiCalldata {

  /** Low 8 bytes of ABI word `i` (after the 4-byte selector) as BIGINT;
    * NULL when the calldata is too short for that word. */
  def abi_word(c: Column, i: Int): Column = decode(c, Word(4, i), Uint)

  /** First 4 bytes as a lowercase hex selector string; NULL when short. */
  def abi_selector(c: Column): Column = decode(c, Word(0, 0), Selector)

  /** Word `i` decoded as SIGNED int256 (two's complement) → BIGINT. The
    * V3-style layout: swap deltas are int256 where exact-output amounts
    * arrive negative (uniswap_v3.rs Swap{amount0,amount1}). NULL when the
    * word is short or its magnitude exceeds 64 bits (upper 24 bytes must
    * be uniform sign-extension). */
  def abi_int_word(c: Column, i: Int): Column =
    decode(c, Word(4, i), Sint)

  /** Word `i` of EVENT LOG `data` (no selector prefix — logs carry bare
    * 32-byte words) → BIGINT; the log-decoded amount path (the reference's
    * `log` arm of action_impl!, brontes-macros/src/action_classifier.rs). */
  def abi_log_word(c: Column, i: Int): Column = decode(c, Word(0, i), Uint)

  /** Length of the dynamic array whose OFFSET pointer sits in head word
    * `headIdx` (Solidity dynamic ABI: head word holds byte offset from the
    * args start; the tail starts with a length word). Curve multi-token
    * layout (classifiers/curve/). */
  def abi_array_len(c: Column, headIdx: Int): Column =
    decode(c, ArrayLen(4, headIdx), Uint)

  /** Element `elemIdx` (low 8 bytes as BIGINT) of the dynamic array whose
    * offset pointer sits in head word `headIdx`; NULL beyond the decoded
    * length. */
  def abi_array_elem(c: Column, headIdx: Int, elemIdx: Int): Column =
    decode(c, ArrayElem(4, headIdx, elemIdx), Uint)

  /** ABI `address` in word `i`: the word's trailing 20 bytes as a 40-char
    * lowercase hex string, NULL when the buffer is short or the 12-byte
    * zero prefix is violated (a well-formed address word is
    * zero-padded — nonzero padding means the word is not an address). The
    * Maker-PSM-style layout: `buyGem(address usr, uint256 gemAmt)`
    * (classifiers/maker/psm.rs `call_data.usr`). */
  def abi_address(c: Column, i: Int): Column = decode(c, Word(4, i), Address)

  /** Word `i` of RETURN data decoded as SIGNED int256 → BIGINT. Return
    * buffers carry bare 32-byte words (no selector prefix); same
    * sign-extension contract as [[abi_int_word]]. The Uniswap-V3-style
    * source: `swap` returns `(int256 amount0, int256 amount1)` where the
    * pool's OUTPUT side arrives negative
    * (classifiers/uniswap/uniswap_v3.rs `return_data.amount0/amount1`). */
  def abi_ret_int(c: Column, i: Int): Column = decode(c, Word(0, i), Sint)

  /** Low 8 bytes of FIELD `fieldIdx` of the dynamic TUPLE whose offset
    * pointer sits in head word `headIdx` (a struct with any dynamic member
    * is passed by offset; its static fields are words at the tail). The
    * Balancer-V2-style source: `onSwap(SwapRequest,...)` where SwapRequest
    * carries `bytes userData` (classifiers/balancer/balancer_v2.rs
    * `call_data.swapRequest.amount`). */
  def abi_tuple_word(c: Column, headIdx: Int, fieldIdx: Int): Column =
    decode(c, TupleField(headIdx, fieldIdx), Uint)

  /** ABI `address` FIELD of an offset-passed tuple: trailing 20 bytes of
    * tuple field `fieldIdx`, 12-zero-byte pad validated (NULL otherwise) —
    * [[abi_address]] through one offset indirection
    * (`swapRequest.tokenIn/tokenOut/from/to`). */
  def abi_tuple_address(c: Column, headIdx: Int, fieldIdx: Int): Column =
    decode(c, TupleField(headIdx, fieldIdx), Address)

  /** LEADING 20 bytes of tuple field `fieldIdx` as a 40-char hex string —
    * the Balancer `bytes32 poolId` shape, whose FIRST portion is the
    * pool's contract address (balancer_v2.rs `pool_id_to_address`,
    * :219-226); the trailing 12 bytes are the pool specialization + nonce
    * and are NOT validated (any value is legal there). */
  def abi_pool_id_address(c: Column, headIdx: Int, fieldIdx: Int): Column =
    decode(c, TupleField(headIdx, fieldIdx), Prefix20)

  /** ABI `address` in bare-word buffer position `i` (event-log `data` /
    * return data — no selector prefix): trailing 20 bytes, 12-zero-byte
    * pad validated. The Compound-V2-style source: the LiquidateBorrow
    * EVENT carries the liquidator as a data word
    * (classifiers/compound/compound_v2.rs `logs.liquidator`). */
  def abi_log_address(c: Column, i: Int): Column =
    decode(c, Word(0, i), Address)

  /** ABI `address` ELEMENT of the dynamic `address[]` whose offset
    * pointer sits in head word `headIdx`: [[abi_array_elem]]'s
    * offset-and-length walk with [[abi_address]]'s 12-zero-byte pad
    * validation and 40-char hex output; NULL beyond the decoded length.
    * The Aave-V2-flashLoan-style source: `flashLoan(address
    * receiverAddress, address[] assets, uint256[] amounts, ...)`
    * (classifiers/aave/v2.rs `call_data.assets`). */
  def abi_array_address(c: Column, headIdx: Int, elemIdx: Int): Column =
    decode(c, ArrayElem(4, headIdx, elemIdx), Address)

  /** [[abi_array_len]] over a BARE-word buffer (event-log `data` — no
    * 4-byte selector, and ABI offsets are relative to the data start).
    * The Balancer-V2-style source: `PoolBalanceChanged(..., address[]
    * tokens, int256[] deltas, ...)` rides the LOG, not the calldata
    * (classifiers/balancer/balancer_v2.rs `logs.tokens`). */
  def abi_log_array_len(c: Column, headIdx: Int): Column =
    decode(c, ArrayLen(0, headIdx), Uint)

  /** [[abi_array_elem]] over a bare-word (log/return) buffer. */
  def abi_log_array_elem(c: Column, headIdx: Int, elemIdx: Int): Column =
    decode(c, ArrayElem(0, headIdx, elemIdx), Uint)

  /** [[abi_array_address]] over a bare-word (log/return) buffer. */
  def abi_log_array_address(c: Column, headIdx: Int, elemIdx: Int): Column =
    decode(c, ArrayElem(0, headIdx, elemIdx), Address)

  /** SIGNED int256 ELEMENT of the dynamic array whose offset pointer sits
    * in head word `headIdx`: [[abi_array_elem]]'s offset-and-length walk
    * with [[abi_ret_int]]'s sign-extension contract on the element word
    * (upper 24 bytes uniform 0x00/0xff agreeing with the low word's sign
    * bit; out-of-i64-range → NULL). The `int256[] deltas` arm of Balancer
    * V2 `PoolBalanceChanged` (classifiers/balancer/balancer_v2.rs
    * `logs.deltas[i]` — negative on exit, positive on join; the
    * classifier takes `.abs()` after a zero skip, so the SIGN must survive
    * the decode). */
  def abi_array_int(c: Column, headIdx: Int, elemIdx: Int): Column =
    decode(c, ArrayElem(4, headIdx, elemIdx), Sint)

  /** [[abi_array_int]] over a bare-word (log/return) buffer. */
  def abi_log_array_int(c: Column, headIdx: Int, elemIdx: Int): Column =
    decode(c, ArrayElem(0, headIdx, elemIdx), Sint)

  /** LEADING 20 bytes of the STATIC word at position `wordIdx` as 40-char
    * hex — the `bytes32 poolId` shape in a fixed calldata slot (Balancer
    * V2 `joinPool(bytes32 poolId, ...)`, balancer_v2.rs
    * `pool_id_to_address(call_data.poolId)` :219-226). Unlike
    * [[abi_pool_id_address]] there is NO tuple indirection; the trailing
    * 12 bytes (specialization + nonce) are free, so no pad validation. */
  def abi_b32_prefix(c: Column, wordIdx: Int): Column =
    decode(c, Word(4, wordIdx), Prefix20)

  /** [[abi_b32_prefix]] over a bare-word buffer (an indexed `bytes32`
    * TOPIC, e.g. TokensRegistered's poolId topic1). */
  def abi_log_b32_prefix(c: Column, wordIdx: Int): Column =
    decode(c, Word(0, wordIdx), Prefix20)

  // ── encoders: the inverse of the decodes, for synthesizing buffers ──

  /** A non-negative BIGINT as one ABI word: 64 lowercase hex chars. */
  def word(c: Column): Column = lpad(lower(hex(c)), 64, "0")

  /** SIGNED int256 word: non-negative values zero-pad; negative values
    * sign-extend with 0xff (hex of a negative BIGINT is already the
    * 16-char two's complement of its low 8 bytes). */
  def sword(c: Column): Column =
    when(c >= 0, word(c)).otherwise(concat(lit("f" * 48), lower(hex(c))))
}

/** Where an [[AbiDecode]]'s word starts. `base` is 4 for calldata (the
  * words follow the selector) and 0 for bare log or return data; ABI
  * offsets count from `base`. */
sealed trait AbiSlot extends Product with Serializable {

  /** (kind, base, head, idx, width) as [[AbiKernel.at]] takes them. */
  private[functions] def args: (Int, Int, Int, Int, Int) = this match {
    case Word(base, i) => (AbiKernel.Word, base, i, 0, 1)
    case ArrayLen(base, head) => (AbiKernel.ArrayLen, base, head, 0, 1)
    case ArrayElem(base, head, j) => (AbiKernel.ArrayElem, base, head, j, 1)
    case TupleArrayField(base, head, j, field, width) =>
      (AbiKernel.ArrayElem, base, head, j * width + field, width)
    case TupleField(head, field) => (AbiKernel.TupleField, 4, head, field, 1)
  }
}

object AbiSlot {
  /** Word `i` of the buffer. */
  final case class Word(base: Int, i: Int) extends AbiSlot
  /** The length word of the dynamic array (or `bytes`/`string`) whose
    * offset sits in word `head`. */
  final case class ArrayLen(base: Int, head: Int) extends AbiSlot
  /** Element `j` of that array; NULL unless `j` is below its length. */
  final case class ArrayElem(base: Int, head: Int, j: Int) extends AbiSlot
  /** Field `field` of element `j` of a dynamic array of static tuples,
    * each `width` words wide; NULL unless `j` is below its length. */
  final case class TupleArrayField(base: Int, head: Int, j: Int, field: Int, width: Int)
      extends AbiSlot {
    require(field < width, "field must lie inside the tuple")
  }
  /** Static field `field` of the calldata tuple whose offset sits in word
    * `head` (a struct with a dynamic member is passed by offset). */
  final case class TupleField(head: Int, field: Int) extends AbiSlot
}

/** What an [[AbiDecode]] reads from its slot's word, and as which type. */
sealed abstract class AbiRead(val code: Int, val dataType: DataType)
    extends Product with Serializable

object AbiRead {
  /** The low 8 bytes, big-endian. */
  case object Uint extends AbiRead(AbiKernel.Uint, LongType)
  /** int256 that fits 64 bits: the upper 24 bytes are uniform 0x00/0xff
    * sign extension agreeing with the low word's sign bit (out of range →
    * NULL, never a silently wrapped magnitude). */
  case object Sint extends AbiRead(AbiKernel.Sint, LongType)
  /** 12 zero pad bytes (else NULL), then 20 bytes as lowercase hex. */
  case object Address extends AbiRead(AbiKernel.Address, StringType)
  /** The leading 20 bytes as lowercase hex, the rest unchecked. */
  case object Prefix20 extends AbiRead(AbiKernel.Prefix20, StringType)
  /** The leading 4 bytes as lowercase hex: needs 4 bytes, not a word. */
  case object Selector extends AbiRead(AbiKernel.Selector, StringType)
  /** A dynamic `string` at an [[AbiSlot.ArrayLen]] slot: the length word
    * (upper 24 bytes zero), then that many content bytes as UTF-8; NULL
    * unless the whole content lies inside the buffer. */
  case object Str extends AbiRead(AbiKernel.Str, StringType)
  /** A dynamic `bytes` at an [[AbiSlot.ArrayLen]] slot, as [[Str]] but
    * the content as lowercase hex. */
  case object Bytes extends AbiRead(AbiKernel.Bytes, StringType)
}

/** The one ABI decode expression: `read` applied to the word at `slot` of
  * a BINARY buffer, NULL when the buffer does not hold it. Its SQL/pretty
  * name (`abi_word`, `abi_pool_id_address`, …) follows from the pair. */
case class AbiDecode(child: Expression, slot: AbiSlot, read: AbiRead)
    extends UnaryExpression {

  private val (kind, base, head, idx, width) = slot.args
  require(head >= 0 && idx >= 0 && width >= 1, "indices must be non-negative")
  require(base == 4 || base == 0, "base is 4 (calldata) or 0 (log/return)")
  require(read != AbiRead.Str && read != AbiRead.Bytes || kind == AbiKernel.ArrayLen,
    "a string/bytes read needs an ArrayLen slot")

  override def dataType: DataType = read.dataType
  override def nullable: Boolean = true
  override def prettyName: String = AbiDecode.nameOf(slot, read)
  // plans show the layout: abi_word(calldata#1, Word(4,0), Uint)
  override protected def stringArgs: Iterator[Any] = Iterator(child, slot, read)

  // SQL-surface type contract: a wrong-typed argument fails at
  // ANALYSIS time instead of as a codegen/eval ClassCastException
  // (AbstractDataType/ExpectsInputTypes are private[sql], so the public
  // checkInputDataTypes hook carries the contract)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val p = AbiKernel.at(b, kind, base, head, idx, width, read.code)
    if (p < 0) null
    else if (dataType == LongType) AbiKernel.low8(b, p)
    else AbiKernel.text(b, p, read.code)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val k = "graft.functions.AbiKernel"
      val p = ctx.freshName("p")
      val value =
        if (dataType == LongType) s"$k.low8($c, $p)" else s"$k.text($c, $p, ${read.code})"
      s"""
         |int $p = $k.at($c, $kind, $base, $head, $idx, $width, ${read.code});
         |if ($p < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $value;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AbiDecode {

  /** The SQL name of a (slot, read) pair: `abi_` ‖ `log_` for a bare-word
    * buffer ‖ the slot's shape ‖ the read (`abi_log_array_address`). */
  def nameOf(slot: AbiSlot, read: AbiRead): String = {
    val (kind, base, _, _, width) = slot.args
    val shape = (kind, read) match {
      case (_, Selector) => return "abi_selector"
      case (_, Str) => "string"
      case (_, Bytes) => "bytes"
      case (AbiKernel.Word, Uint) => "word"
      case (AbiKernel.Word, Sint) => if (base == 0) return "abi_ret_int" else "int_word"
      case (AbiKernel.Word, Address) => "address"
      case (AbiKernel.Word, _) => "b32_prefix"
      case (AbiKernel.ArrayLen, _) => "array_len"
      case (AbiKernel.ArrayElem, r) if width > 1 =>
        if (r == Address) "tuple_array_address" else "tuple_array_word"
      case (AbiKernel.ArrayElem, Uint) => "array_elem"
      case (AbiKernel.ArrayElem, Sint) => "array_int"
      case (AbiKernel.ArrayElem, _) => "array_address"
      case (_, Address) => "tuple_address"
      case (_, Prefix20) => "pool_id_address"
      case _ => "tuple_word"
    }
    if (base == 0) s"abi_log_$shape" else s"abi_$shape"
  }
}

/** The ABI byte walk shared by [[AbiDecode]]'s interpreted and generated
  * paths (the generated Java calls these statically). */
object AbiKernel {

  // slot kinds
  final val Word = 0
  final val ArrayLen = 1
  final val ArrayElem = 2
  final val TupleField = 3

  // reads
  final val Uint = 0
  final val Sint = 1
  final val Address = 2
  final val Prefix20 = 3
  final val Selector = 4
  final val Str = 5
  final val Bytes = 6

  /** Start of the slot's word when the slot resolves inside `b` and the
    * word passes `read`'s checks; -1 (NULL) otherwise. `head` is the word
    * index (Word) or the offset word's index (the rest); `idx` is the
    * tuple field, or the array word past the length word, which belongs to
    * element `idx / width` (`width` words per element). */
  def at(b: Array[Byte], kind: Int, base: Int, head: Int, idx: Int, width: Int,
      read: Int): Int = {
    val size = if (read == Selector) 4 else 32
    val p =
      if (kind == Word) fit(b, base + 32L * head, size)
      else {
        val off = offset(b, base + 32L * head)
        if (off < 0) -1
        else if (kind == TupleField) fit(b, base + off + 32L * idx, size)
        else {
          val len = fit(b, base + off, 32)
          if (kind == ArrayLen || len < 0) len
          else if (idx / width >= low8(b, len)) -1
          else fit(b, len + 32L + 32L * idx, size)
        }
      }
    if (p < 0) -1
    else if (read == Sint && !signExtends(b, p)) -1
    else if (read == Address && !zeros(b, p, 12)) -1
    else if ((read == Str || read == Bytes) && contentLength(b, p) < 0) -1
    else p
  }

  /** The word's low 8 bytes, big-endian (Uint and Sint). */
  def low8(b: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = p + 24
    while (i < p + 32) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }

  /** The string a string `read` yields from the word at `p`. */
  def text(b: Array[Byte], p: Int, read: Int): UTF8String =
    if (read == Address) hex(b, p + 12, 20)
    else if (read == Selector) hex(b, p, 4)
    else if (read == Str) UTF8String.fromBytes(b, p + 32, contentLength(b, p))
    else if (read == Bytes) hex(b, p + 32, contentLength(b, p))
    else hex(b, p, 20)

  // the length held by the `bytes`/`string` length word at `p` when its
  // upper 24 bytes are zero and that much content follows it inside `b`,
  // else -1 (a length past the buffer is corruption, not a short string)
  private def contentLength(b: Array[Byte], p: Int): Int =
    if (!zeros(b, p, 24)) -1
    else {
      val len = low8(b, p)
      if (len < 0 || len > b.length - (p + 32L)) -1 else len.toInt
    }

  private def hex(b: Array[Byte], from: Int, n: Int): UTF8String = {
    val out = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val v = b(from + i) & 0xff
      out(2 * i) = Character.forDigit(v >>> 4, 16).toByte
      out(2 * i + 1) = Character.forDigit(v & 0xf, 16).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  // `pos` when `width` bytes from it fit in `b`, else -1
  private def fit(b: Array[Byte], pos: Long, width: Int): Int =
    if (pos + width <= b.length) pos.toInt else -1

  /** The ABI offset held by the word at `pos`, or -1. An offset word's
    * upper 24 bytes are ALWAYS zero (nonzero high bytes are corruption,
    * not an offset with small low bytes), and the offset must lie inside
    * the buffer: rejecting it before any arithmetic keeps a crafted word
    * near 2^63 from wrapping a position negative. */
  private def offset(b: Array[Byte], pos: Long): Long = {
    val p = fit(b, pos, 32)
    if (p < 0 || !zeros(b, p, 24)) -1L
    else {
      val off = low8(b, p)
      if (off < 0 || off > b.length) -1L else off
    }
  }

  private def zeros(b: Array[Byte], from: Int, n: Int): Boolean = {
    var i = from
    while (i < from + n) { if (b(i) != 0) return false; i += 1 }
    true
  }

  // uniform 0x00/0xff upper 24 bytes agreeing with the low word's sign bit
  private def signExtends(b: Array[Byte], p: Int): Boolean = {
    val ext = b(p)
    if ((ext != 0 && ext != -1) || (b(p + 24) < 0) != (ext == -1)) return false
    var i = p + 1
    while (i < p + 24) { if (b(i) != ext) return false; i += 1 }
    true
  }
}
