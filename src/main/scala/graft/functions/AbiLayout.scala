package graft.functions

import scala.language.implicitConversions

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge => B}
import org.apache.spark.sql.functions.{ceil, col, concat, hex, length, lit, lower, lpad,
  octet_length, rpad, unhex, when}

import AbiCalldata.{sword, word}
import AbiLayout._

/** One ABI buffer shape as data: the analog of an alloy `sol!` signature,
  * which both encodes and decodes a call, log or return value (the
  * reference declares each classifier as an `action_impl!` row over one).
  *
  * A layout is a buffer kind plus an ordered list of named parameters.
  * `base` is 4 for calldata (the words follow a 4-byte selector) and 0 for
  * bare event-log or return words. The parameter types are the ABI shapes
  * the classifiers here read:
  *   - one static word: `uint`, `int`, `address`, `bytes32`;
  *   - `T[]` of static words, whose length is a Column;
  *   - an array of static tuples;
  *   - an offset-passed tuple (a struct with a dynamic member);
  *   - `bytes` and `string`.
  *
  * [[pack]] builds the buffer from one value per parameter and computes
  * every head offset from the layout, so no offset word is written by
  * hand. [[decode]] adds each parameter's value as the [[AbiDecode]]
  * (slot, read) pair that reads it back, under the parameter's name:
  *   - a static word decodes under its name;
  *   - an array decodes its length under its name and its first elements
  *     under the element names it lists;
  *   - an array of tuples decodes its length under its name and field `f`
  *     of element `j` as `f` ‖ `j`;
  *   - a tuple decodes its static fields under their names;
  *   - `bytes`/`string` decode the content under the name and the length
  *     as `name_len`.
  */
final case class AbiLayout(base: Int, params: Seq[AbiParam]) {
  require(base == 4 || base == 0, "base is 4 (calldata) or 0 (log/return)")
  require(params.map(_.name).filter(_.nonEmpty).distinct.size ==
    params.count(_.name.nonEmpty), "parameter names must be unique")

  /** Each decoded name with the (slot, read) pair that reads it. */
  private val slots: Seq[(String, AbiSlot, AbiRead)] = params.zipWithIndex.flatMap {
    case (AbiParam(n, Word(read)), h) => Seq((n, AbiSlot.Word(base, h), read))
    case (AbiParam(n, DynArray(read, elems)), h) =>
      (n, AbiSlot.ArrayLen(base, h), AbiRead.Uint) +:
        elems.zipWithIndex.map { case (e, j) => (e, AbiSlot.ArrayElem(base, h, j), read) }
    case (AbiParam(n, Tuples(fields, rows)), h) =>
      (n, AbiSlot.ArrayLen(base, h), AbiRead.Uint) +: (for {
        j <- 0 until rows
        (AbiParam(f, Word(read)), i) <- fields.zipWithIndex
      } yield (s"$f$j", AbiSlot.TupleArrayField(base, h, j, i, fields.size), read))
    case (AbiParam(_, Tuple(fields)), h) =>
      require(base == 4, "an offset-passed tuple is read from calldata")
      fields.zipWithIndex.collect {
        case (AbiParam(f, Word(read)), i) => (f, AbiSlot.TupleField(h, i), read)
      }
    case (AbiParam(n, Dyn(read)), h) =>
      Seq((n, AbiSlot.ArrayLen(base, h), read),
        (s"${n}_len", AbiSlot.ArrayLen(base, h), AbiRead.Uint))
  }.filter(_._1.nonEmpty)

  private lazy val byName = slots.map(s => s._1 -> s).toMap

  /** The decode of one name of [[slots]] over `buf`. */
  def read(buf: Column, name: String): Column = {
    val (_, slot, r) = byName.getOrElse(name, throw new NoSuchElementException(
      s"no decoded name $name in $this"))
    AbiLayout.decodeAt(buf, slot, r)
  }

  /** `read` of the head word of parameter `name` (an unknown name fails
    * [[AbiDecode]]'s non-negative index check). */
  def read(buf: Column, name: String, read: AbiRead): Column =
    AbiLayout.decodeAt(buf, AbiSlot.Word(base, params.indexWhere(_.name == name)), read)

  /** The head word of parameter `name`: the tail offset of a dynamic one. */
  def offset(buf: Column, name: String): Column = read(buf, name, AbiRead.Uint)

  /** The 4-byte selector of a calldata buffer, as 8 hex chars. */
  def selector(buf: Column): Column = {
    require(base == 4, "only calldata carries a selector")
    AbiLayout.decodeAt(buf, AbiSlot.Word(0, 0), AbiRead.Selector)
  }

  /** `df` with every decoded name of the layout read from column `buf`. */
  def decode(df: DataFrame, buf: String): DataFrame =
    slots.foldLeft(df) { case (d, (n, _, _)) => d.withColumn(n, read(col(buf), n)) }

  /** The buffer holding `values`, one per parameter; a calldata layout
    * takes its 4-byte selector (8 hex chars) first. */
  def pack(values: AbiValue*): Column =
    if (base == 0) unhex(encode(params, values)._1)
    else {
      require(values.nonEmpty, "a calldata layout packs its selector first")
      val One(selector) = values.head
      unhex(concat(selector, encode(params, values.tail)._1))
    }
}

/** One named parameter of an [[AbiLayout]]. An empty name is packed but
  * not decoded. */
final case class AbiParam(name: String, tpe: AbiType)

/** A parameter's ABI shape. */
sealed trait AbiType extends Product with Serializable

/** A value [[AbiLayout.pack]] writes for one parameter. */
sealed trait AbiValue extends Product with Serializable

object AbiValue {
  implicit def ofColumn(c: Column): AbiValue = One(c)
}

object AbiLayout {

  /** A calldata layout: a 4-byte selector, then the parameters. */
  def calldata(params: AbiParam*): AbiLayout = AbiLayout(4, params)

  /** A bare-word layout: event-log data or topics, or return data. */
  def words(params: AbiParam*): AbiLayout = AbiLayout(0, params)

  def uint(name: String): AbiParam = AbiParam(name, Word(AbiRead.Uint))
  def int(name: String): AbiParam = AbiParam(name, Word(AbiRead.Sint))
  def address(name: String): AbiParam = AbiParam(name, Word(AbiRead.Address))
  /** A `bytes32` whose leading 20 bytes are read (the Balancer poolId). */
  def bytes32(name: String): AbiParam = AbiParam(name, Word(AbiRead.Prefix20))
  /** `T[]` of `elem` words (Uint, Sint or Address). */
  def arr(name: String, elem: AbiRead, elems: String*): AbiParam =
    AbiParam(name, DynArray(elem, elems))
  /** A dynamic array of static tuples with the given word fields, the
    * first `rows` of which decode. */
  def tuples(name: String, rows: Int, fields: AbiParam*): AbiParam =
    AbiParam(name, Tuples(fields, rows))
  /** An offset-passed tuple; only its static fields decode. */
  def tuple(name: String, fields: AbiParam*): AbiParam = AbiParam(name, Tuple(fields))
  def bytes(name: String): AbiParam = AbiParam(name, Dyn(AbiRead.Bytes))
  def string(name: String): AbiParam = AbiParam(name, Dyn(AbiRead.Str))

  /** An array's value: its length and its elements; element `k` is
    * written when `k` is below the length, which must not exceed them. */
  def elems(len: Column, items: Column*): AbiValue = Elems(len, items.map(One))
  /** An array of tuples' value: its length and its rows, each [[fields]]. */
  def rows(len: Column, items: AbiValue*): AbiValue = Elems(len, items)
  /** A tuple's (or a tuple row's) value: one value per field. */
  def fields(values: AbiValue*): AbiValue = Fields(values)

  /** One static word read as `read`. */
  final case class Word(read: AbiRead) extends AbiType
  final case class DynArray(elem: AbiRead, elems: Seq[String]) extends AbiType
  final case class Tuples(fields: Seq[AbiParam], rows: Int) extends AbiType {
    require(fields.forall(_.tpe.isInstanceOf[Word]), "tuple array fields are words")
  }
  final case class Tuple(fields: Seq[AbiParam]) extends AbiType
  /** `bytes` (a hex value, read as hex) or `string` (a STRING value). */
  final case class Dyn(read: AbiRead) extends AbiType

  final case class One(c: Column) extends AbiValue
  final case class Elems(len: Column, items: Seq[AbiValue]) extends AbiValue
  final case class Fields(values: Seq[AbiValue]) extends AbiValue

  /** The [[AbiDecode]] of one (slot, read) pair over `buf`. */
  def decodeAt(buf: Column, slot: AbiSlot, read: AbiRead): Column =
    B.column(AbiDecode(B.expression(buf), slot, read))

  // the 64-hex-char head word of a static value
  private def wordHex(read: AbiRead, v: AbiValue): Column = (read, v) match {
    case (AbiRead.Uint, One(c)) => word(c)
    case (AbiRead.Sint, One(c)) => sword(c)
    case (AbiRead.Address, One(c)) => lpad(c, 64, "0")
    case (_, One(c)) => rpad(c, 64, "0")
    case _ => throw new IllegalArgumentException(s"no word in $v")
  }

  // `ws` present when `k` is below `len`
  private def upTo(len: Column, ws: Seq[Column]): Seq[Column] = ws.zipWithIndex.map {
    case (w, k) => when(len > k, w).otherwise(lit(""))
  }

  /** Heads then tails of `params` as hex, with the encoding's byte size:
    * each dynamic parameter's head is the byte offset of its tail from
    * the start of this encoding. */
  private def encode(params: Seq[AbiParam], values: Seq[AbiValue]): (Column, Column) = {
    require(params.size == values.size,
      s"${params.size} parameters, ${values.size} values")
    val heads = Seq.newBuilder[Column]
    val tails = Seq.newBuilder[Column]
    // a constant prefix of sizes folds, so static tails pack literal offsets
    var size = lit(32L * params.size)
    params.zip(values).foreach {
      case (AbiParam(_, Word(read)), v) => heads += wordHex(read, v)
      case (AbiParam(_, tpe), v) =>
        val (tail, tailSize) = encodeTail(tpe, v)
        heads += word(size)
        tails += tail
        size = size + tailSize
    }
    (concat(heads.result() ++ tails.result(): _*), size)
  }

  private def encodeTail(tpe: AbiType, v: AbiValue): (Column, Column) = (tpe, v) match {
    case (DynArray(read, _), Elems(len, items)) =>
      (concat(word(len) +: upTo(len, items.map(wordHex(read, _))): _*), len * 32 + 32)
    case (Tuples(fs, _), Elems(len, rows)) =>
      val rowHex = rows.map {
        case Fields(vs) => concat(fs.zip(vs).map {
          case (AbiParam(_, Word(read)), x) => wordHex(read, x)
          case (p, _) => throw new IllegalArgumentException(s"$p is not a word")
        }: _*)
        case other => throw new IllegalArgumentException(s"$other is not a tuple row")
      }
      (concat(word(len) +: upTo(len, rowHex): _*), len * (32L * fs.size) + 32)
    case (Tuple(fs), Fields(vs)) => encode(fs, vs)
    case (Dyn(read), One(c)) =>
      val (h, n) =
        if (read == AbiRead.Str) (lower(hex(c)), octet_length(c).cast("long"))
        else (c, (length(c) / 2).cast("long"))
      val words = ceil(n / 32)
      (concat(word(n), rpad(h, (words * 64).cast("int"), lit("0"))), words * 32 + 32)
    case _ => throw new IllegalArgumentException(s"no $tpe value in $v")
  }
}
