package graft

import graft.ops.{AsOfJoin, ExactAgg, TopK}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.expr
import org.scalacheck.rng.Seed
import org.scalacheck.{Arbitrary, Gen}

/** Property-based checks of the reusable operator library: each core op is
  * compared against a trivially-correct driver-side reference on many
  * RANDOMIZED inputs (fixed seeds — reproducible), across several
  * partitionings. This is the class of bug the fixture can't plant: a
  * fencepost that only fires on a shape the hand-written cases missed. */
class PropertySpec extends SparkTestBase {

  private def sample[A](gen: Gen[A], seed: Long): A =
    gen.pureApply(Gen.Parameters.default, Seed(seed))

  private val doublesGen: Gen[List[Double]] =
    Gen.chooseNum(1, 120).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6).map(x => math.rint(x * 64) / 64)))

  test("dsum is invariant under repartitioning and permutation (50 random sets)") {
    import spark.implicits._
    for (seed <- 1 to 50) {
      val xs = sample(doublesGen, seed.toLong)
      val expected = ExactAgg.dsumDriver(xs)
      for (parts <- Seq(1, 3, 7)) {
        val got = xs.toDF("x").repartition(parts)
          .agg(ExactAgg.dsum(col("x"))).head().getDouble(0)
        assert(got == expected, s"seed=$seed parts=$parts: $got != $expected")
      }
      val shuffled = scala.util.Random.javaRandomToRandom(
        new java.util.Random(seed.toLong)).shuffle(xs)
      val gotShuffled = shuffled.toDF("x").agg(ExactAgg.dsum(col("x")))
        .head().getDouble(0)
      assert(gotShuffled == expected, s"seed=$seed permuted: $gotShuffled")
    }
  }

  private case class L(k: Long, ts: Long, v: Long)
  private val eventsGen: Gen[(List[L], List[L])] = for {
    nl <- Gen.chooseNum(0, 40)
    nr <- Gen.chooseNum(0, 40)
    mk = for {
      k <- Gen.chooseNum(0L, 3L)
      ts <- Gen.chooseNum(0L, 30L) // narrow range → many exact ts ties
      v <- Gen.chooseNum(0L, 999L)
    } yield L(k, ts, v)
    l <- Gen.listOfN(nl, mk)
    r <- Gen.listOfN(nr, mk)
  } yield (l, r)

  test("AsOfJoin.backward equals the brute-force reference (40 random workloads)") {
    import spark.implicits._
    for (seed <- 1 to 40) {
      val (ls, rsRaw) = sample(eventsGen, 1000L + seed)
      // right side must be unique per (key, ts) for a well-defined as-of:
      // keep the max-v row, exactly what the op's contract assumes
      val rs = rsRaw.groupBy(r => (r.k, r.ts)).map(_._2.maxBy(_.v)).toList
      val left = ls.map(l => (l.k, l.ts, l.v)).toDF("k", "ts", "lv")
      val right = rs.map(r => (r.k, r.ts, r.v)).toDF("k", "ts", "rv")
      val got = AsOfJoin.backward(left, right, Seq("k"), "ts", "rv", "last_rv")
        .select("k", "ts", "lv", "last_rv")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
        .sorted
      val expect = ls.map { l =>
        val m = rs.filter(r => r.k == l.k && r.ts <= l.ts)
        (l.k, l.ts, l.v,
          if (m.isEmpty) -1L else m.maxBy(_.ts).v)
      }.sorted
      assert(got.toSeq == expect, s"seed=$seed")
    }
  }

  test("CdcBoundaries kernel equals the SQL-form predicate on random text") {
    import spark.implicits._
    val textGen: Gen[String] = Gen.chooseNum(1, 400).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(5 -> Gen.alphaLowerChar, 1 -> Gen.const(' ')))
        .map(_.mkString))
    val texts = (1 to 60).map(seed => sample(textGen, 3000L + seed))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("n", org.apache.spark.sql.functions.length(col("text")))
    val native = df.select(col("doc_id"),
        graft.functions.TextHash.cdc_boundaries(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val sqlForm = df.select(col("doc_id"), expr(
        """filter(transform(sequence(1, n),
             i -> IF(i = 1 OR (i + 7 <= n
               AND substring(md5(substring(text, i, 8)), 1, 1) = '0'),
               i, CAST(NULL AS INT))),
           x -> x IS NOT NULL)""").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native == sqlForm)
  }

  test("Sessionize.byGap equals the brute-force reference (40 random workloads)") {
    import graft.ops.Sessionize
    import spark.implicits._
    for (seed <- 1 to 40) {
      val (ls, _) = sample(eventsGen, 4000L + seed)
      if (ls.nonEmpty) {
        // unique tiebreak per row: v replaced by a running index
        val rows = ls.zipWithIndex.map { case (l, i) => (l.k, l.ts, i.toLong) }
        val got = Sessionize.byGap(rows.toDF("k", "ts", "tb"),
            Seq("k"), "ts", "tb", gapMicros = 5L)
          .select("k", "ts", "tb", "session_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sorted
        val expect = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
          val sorted = rs.sortBy(r => (r._2, r._3))
          var sess = 0L
          var prev = Long.MinValue
          sorted.map { r =>
            if (prev != Long.MinValue && r._2 - prev > 5L) sess += 1
            prev = r._2
            (k, r._2, r._3, sess)
          }
        }.sorted
        assert(got.toSeq == expect, s"seed=$seed")
      }
    }
  }

  test("TopK.perGroup equals sort-take under total orders (40 random workloads)") {
    import spark.implicits._
    for (seed <- 1 to 40) {
      val (ls, _) = sample(eventsGen, 2000L + seed)
      if (ls.nonEmpty) {
        val df = ls.map(l => (l.k, l.ts, l.v)).toDF("k", "ts", "v")
        val got = TopK.perGroup(df, Seq("k"),
            Seq(col("ts").desc, col("v").asc), 3)
          .select("k", "rank", "ts", "v").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
          .sorted
        val expect = ls.groupBy(_.k).toSeq.flatMap { case (k, rows) =>
          rows.sortBy(r => (-r.ts, r.v)).take(3).zipWithIndex
            .map { case (r, i) => (k, i + 1, r.ts, r.v) }
        }.sorted
        assert(got.toSeq == expect, s"seed=$seed")
      }
    }
  }

  private case class PmTx(block: Long, idx: Long, pf: Long,
    priv: Int, cb: Int, claimed: Boolean)
  private val pmGen: Gen[List[PmTx]] = for {
    nb <- Gen.chooseNum(1, 5)
    blocks <- Gen.sequence[List[List[PmTx]], List[PmTx]]((0 until nb).toList.map { b =>
      for {
        nt <- Gen.chooseNum(1, 30)
        txs <- Gen.sequence[List[PmTx], PmTx]((0 until nt).toList.map { i =>
          for {
            pf <- Gen.chooseNum(0L, 1000L)
            priv <- Gen.frequency((7, Gen.const(0)), (3, Gen.const(1)))
            cb <- Gen.frequency((9, Gen.const(0)), (1, Gen.const(1)))
            cl <- Gen.frequency((8, Gen.const(false)), (2, Gen.const(true)))
          } yield PmTx(b.toLong, i.toLong, pf, priv, cb, cl)
        })
      } yield txs
    })
  } yield blocks.flatten

  test("possibleMevOf equals the direct 2-sigma reference (40 random workloads)") {
    import spark.implicits._
    for (seed <- 1 to 40) {
      val txs = sample(pmGen, 4000L + seed)
      val df = txs.map(t => (t.block, t.idx, s"t${t.block}_${t.idx}", t.pf,
        t.priv, t.cb)).toDF("block_number", "tx_idx", "tx_hash",
        "priority_fee", "is_private", "coinbase_transfer")
      val claimed = txs.filter(_.claimed)
        .map(t => s"t${t.block}_${t.idx}").toDF("tx_hash")
      val got = graft.domain.InspectorOps.possibleMevOf(df, claimed)
        .select("tx_hash", "high_priority_fee").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
      // driver reference: exact long sums (the decimal sums are exact on
      // integer fees) → identical double mean/σ arithmetic
      val expect = txs.groupBy(_.block).toSeq.flatMap { case (_, rows) =>
        val n = rows.length.toDouble
        val mean = rows.map(_.pf).sum / n
        val sd = math.sqrt(math.max(
          rows.map(t => t.pf * t.pf).sum / n - mean * mean, 0.0))
        rows.filter(t => !t.claimed)
          .map(t => (t, if (t.pf > mean + 2.0 * sd) 1 else 0))
          .filter { case (t, hi) => t.cb == 1 || hi == 1 }
          .map { case (t, hi) => (s"t${t.block}_${t.idx}", hi) }
      }.sorted
      assert(got == expect, s"seed=$seed")
    }
  }

  // ── ABI decode expressions vs independent BigInteger references ──────────
  //
  // The ABI decodes (AbiCalldata.scala) are compared against
  // straightforward BigInteger/slice formulations on RANDOM buffers —
  // including truncations, corrupt offsets, and invalid pads — the shapes
  // the planted goldens can't enumerate. The references are deliberately
  // different formulations (bitLength checks vs byte-pattern scans). Each
  // fuzz runs twice, interpreted and through whole-stage codegen, so both
  // of a decode's paths meet the hostile bytes.

  // signed wrap on purpose: the impl reads the low 8 bytes as the raw
  // 64-bit pattern (an oversized unsigned offset lands negative and is
  // rejected by the off < 0 guard in both formulations)
  private def beLong(b: Array[Byte], from: Int): Long =
    new java.math.BigInteger(1, b.slice(from, from + 8)).longValue()

  private def refWord(b: Array[Byte], off: Int): Option[Long] =
    if (off < 0 || b.length < off + 32) None else Some(beLong(b, off + 24))

  private def refInt(b: Array[Byte], off: Int): Option[Long] =
    if (off < 0 || b.length < off + 32) None
    else {
      val bi = new java.math.BigInteger(b.slice(off, off + 32)) // signed BE
      if (bi.bitLength() <= 63) Some(bi.longValue) else None
    }

  private def refAddr(b: Array[Byte], off: Int): Option[String] =
    if (off < 0 || b.length < off + 32) None
    else if (b.slice(off, off + 12).exists(_ != 0)) None
    else Some(b.slice(off + 12, off + 32).map("%02x".format(_)).mkString)

  private def refB32Prefix(b: Array[Byte], off: Int): Option[String] =
    if (off < 0 || b.length < off + 32) None
    else Some(b.slice(off, off + 20).map("%02x".format(_)).mkString)

  private def refSelector(b: Array[Byte]): Option[String] =
    if (b.length < 4) None else Some(b.take(4).map("%02x".format(_)).mkString)

  /** Tuple field position via the documented low-8-byte offset read, or
    * -1 when unresolvable (short head, corrupt high bytes, oversized
    * offset, short tail). Formulated via BigInteger bitLength — a
    * DIFFERENT check than the impl's byte scan — so a pad-validation bug
    * can't hide in a shared formulation. */
  private def refTupleOff(b: Array[Byte], headIdx: Int, fieldIdx: Int): Int = {
    val headOff = 4 + headIdx * 32 + 24
    if (b.length < headOff + 8) return -1
    // an ABI offset word is zero in its upper 24 bytes
    if (new java.math.BigInteger(1, b.slice(headOff - 24, headOff + 8))
        .bitLength() > 64) return -1
    val off = beLong(b, headOff)
    if (off < 0 || off > b.length) return -1
    val f = 4 + off + fieldIdx * 32L
    if (b.length < f + 32) -1 else f.toInt
  }

  /** Dynamic-array geometry: Some((lenPos, len)) when the head offset at
    * `headIdx` resolves to a readable length word; same pad/bounds rules
    * as [[refTupleOff]]. */
  private def refArrayGeom(b: Array[Byte], headIdx: Int,
      base: Int = 4): Option[(Long, Long)] = {
    val headOff = base + headIdx * 32 + 24
    if (b.length < headOff + 8) return None
    if (new java.math.BigInteger(1, b.slice(headOff - 24, headOff + 8))
        .bitLength() > 64) return None
    val off = beLong(b, headOff)
    if (off < 0 || off > b.length) return None
    val lenOff = base + off + 24
    if (b.length < lenOff + 8) None else Some((lenOff, beLong(b, lenOff.toInt)))
  }

  private def refArrayLen(b: Array[Byte], headIdx: Int,
      base: Int = 4): Option[Long] =
    refArrayGeom(b, headIdx, base).map(_._2)

  private def refArrayElem(b: Array[Byte], headIdx: Int, k: Int,
      base: Int = 4): Option[Long] =
    refArrayGeom(b, headIdx, base).flatMap { case (lenOff, n) =>
      val elemOff = lenOff + 32 + 32L * k // low-8 tail of element word k
      if (k >= n || b.length < elemOff + 8) None
      else Some(beLong(b, elemOff.toInt))
    }

  private def refArrayAddr(b: Array[Byte], headIdx: Int, k: Int,
      base: Int = 4): Option[String] =
    refArrayGeom(b, headIdx, base).flatMap { case (lenOff, n) =>
      val wordOff = lenOff + 8 + 32L * k // element word k starts after len
      if (k >= n || b.length < wordOff + 32) None
      else refAddr(b, wordOff.toInt)
    }

  /** SIGNED element: same walk, element word under [[refInt]]'s
    * whole-word BigInteger formulation (fits-in-63-bits ⟺ a proper
    * two's-complement sign extension) — a DIFFERENT check than the
    * impl's uniform-byte scan. */
  private def refArrayInt(b: Array[Byte], headIdx: Int, k: Int,
      base: Int = 4): Option[Long] =
    refArrayGeom(b, headIdx, base).flatMap { case (lenOff, n) =>
      val wordOff = lenOff + 8 + 32L * k
      if (k >= n || b.length < wordOff + 32) None
      else refInt(b, wordOff.toInt)
    }

  /** `bytes`/`string` content at the dynamic head `headIdx`: the whole
    * length word as an unsigned BigInteger below 2^63, then that many
    * bytes, ALL inside the buffer — truncated content is None, never a
    * shorter string. */
  private def refDyn(b: Array[Byte], headIdx: Int, base: Int): Option[Array[Byte]] =
    refArrayGeom(b, headIdx, base).flatMap { case (lenOff, _) =>
      val word = (lenOff - 24).toInt
      val len = new java.math.BigInteger(1, b.slice(word, word + 32))
      val end = word + 32 + len.longValue
      if (len.bitLength() > 63 || end > b.length) None
      else Some(b.slice(word + 32, end.toInt))
    }

  /** Field `f` (the word's start) of element `j` of a dynamic array of
    * `width`-word static tuples; None past the decoded length. */
  private def refTupleArrWord(b: Array[Byte], headIdx: Int, j: Int, f: Int,
      width: Int, base: Int): Option[Int] =
    refArrayGeom(b, headIdx, base).flatMap { case (lenOff, n) =>
      val wordOff = lenOff + 8 + 32L * (j * width + f)
      if (j >= n || b.length < wordOff + 32) None else Some(wordOff.toInt)
    }

  private val abiBufGen: Gen[Array[Byte]] = for {
    nWords <- Gen.chooseNum(0, 11)
    words <- Gen.listOfN(nWords, Gen.oneOf(
      // random garbage word
      Gen.listOfN(32, Arbitrary.arbitrary[Byte]).map(_.toArray),
      // valid address word (12-zero pad)
      Gen.listOfN(20, Arbitrary.arbitrary[Byte])
        .map(a => Array.fill[Byte](12)(0) ++ a),
      // sign-extended small int word (both signs)
      Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2).map { v =>
        val ext: Byte = if (v < 0) 0xff.toByte else 0
        Array.fill[Byte](24)(ext) ++
          java.nio.ByteBuffer.allocate(8).putLong(v).array()
      },
      // plausible tuple/array offset word (32·j, sometimes out of range)
      Gen.chooseNum(0, 14).map(j => Array.fill[Byte](24)(0) ++
        java.nio.ByteBuffer.allocate(8).putLong(32L * j).array()),
      // CORRUPT offset word: nonzero high byte, small low 8 — must be
      // rejected by the upper-24-zero pad check, never resolved
      Gen.chooseNum(0, 14).map { j =>
        val w = Array.fill[Byte](24)(0) ++
          java.nio.ByteBuffer.allocate(8).putLong(32L * j).array()
        w((j * 7) % 24) = 1 // deterministic corrupt high byte
        w
      },
      // small plain word (acts as an array LENGTH when an offset lands on
      // it, keeping element reads in range)
      Gen.chooseNum(0L, 6L).map(n => Array.fill[Byte](24)(0) ++
        java.nio.ByteBuffer.allocate(8).putLong(n).array())
    ))
    trunc <- Gen.chooseNum(0, 40)
  } yield ("ab54a9d8".grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    ++ words.flatten).dropRight(trunc)

  /** Projects `cols` over the buffers (as column `b`) and returns the rows,
    * through one of the two paths an [[graft.functions.AbiDecode]] has.
    * Interpreted: a frame over a local Seq is folded by the optimizer's
    * ConvertToLocalRelation rule, which evaluates the projection through
    * `eval`. Codegen: with that rule excluded the projection runs inside a
    * whole-stage-codegen span, which the plan must show. */
  private def decodeRows(bufs: Seq[Array[Byte]], cols: Seq[org.apache.spark.sql.Column],
      codegen: Boolean): Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    val rule = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    if (codegen) spark.conf.set(key, rule)
    try {
      val df = bufs.map(Tuple1(_)).toDF("b").select(col("b") +: cols: _*)
      val rows = df.collect()
      val p = df.queryExecution.executedPlan.toString
      val span = """\*\(\d+\) Project""".r.findFirstIn(p)
      assert(span.isDefined == codegen, s"codegen=$codegen:\n$p")
      rows
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def fixedSlotFuzz(codegen: Boolean): Unit = {
    import graft.functions.AbiCalldata._
    val bufs = (1 to 80).map(s => sample(abiBufGen, 7000L + s)).toList
    val cols = (0 to 2).flatMap { i =>
      Seq(abi_word(col("b"), i).as(s"w$i"),
        abi_int_word(col("b"), i).as(s"i$i"),
        abi_address(col("b"), i).as(s"a$i"),
        abi_ret_int(col("b"), i).as(s"r$i"),
        abi_log_word(col("b"), i).as(s"l$i"),
        abi_log_address(col("b"), i).as(s"la$i"),
        abi_tuple_word(col("b"), 0, i).as(s"t$i"),
        abi_tuple_address(col("b"), 0, i).as(s"ta$i"),
        abi_pool_id_address(col("b"), 0, i).as(s"tp$i"))
    } :+ abi_selector(col("b")).as("sel")
    val out = decodeRows(bufs, cols, codegen)
    for (r <- out) {
      val b = r.getAs[Array[Byte]]("b")
      def gl(n: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(n))) None else Some(r.getAs[Long](n))
      def gs(n: String): Option[String] =
        Option(r.getAs[String](n))
      for (i <- 0 to 2) {
        val cd = 4 + i * 32 // calldata word offset
        val bare = i * 32 // log/return word offset
        assert(gl(s"w$i") == refWord(b, cd), s"abi_word $i len=${b.length}")
        assert(gl(s"i$i") == refInt(b, cd), s"abi_int_word $i len=${b.length}")
        assert(gs(s"a$i") == refAddr(b, cd), s"abi_address $i len=${b.length}")
        assert(gl(s"r$i") == refInt(b, bare), s"abi_ret_int $i len=${b.length}")
        assert(gl(s"l$i") == refWord(b, bare), s"abi_log_word $i len=${b.length}")
        assert(gs(s"la$i") == refAddr(b, bare),
          s"abi_log_address $i len=${b.length}")
        val f = refTupleOff(b, 0, i)
        assert(gl(s"t$i") == (if (f < 0) None else refWord(b, f)),
          s"abi_tuple_word $i len=${b.length}")
        assert(gs(s"ta$i") == (if (f < 0) None else refAddr(b, f)),
          s"abi_tuple_address $i len=${b.length}")
        assert(gs(s"tp$i") == (if (f < 0) None else refB32Prefix(b, f)),
          s"abi_pool_id_address $i len=${b.length}")
      }
      assert(gs("sel") == refSelector(b), s"abi_selector len=${b.length}")
    }
  }

  test("abi decode expressions equal BigInteger references on random buffers") {
    fixedSlotFuzz(codegen = false)
  }

  test("abi decode expressions equal BigInteger references through whole-stage codegen") {
    fixedSlotFuzz(codegen = true)
  }

  private def dynamicShapeFuzz(codegen: Boolean): Unit = {
    // the offset-FOLLOWING decoders — array length/element/address — on
    // the same hostile buffer population: truncations, corrupt head
    // offsets (nonzero high bytes), out-of-range offsets, lengths past the
    // buffer
    import graft.functions.AbiCalldata._
    val bufs = (1 to 80).map(s => sample(abiBufGen, 9000L + s)).toList
    val cols = (0 to 1).flatMap { h =>
      Seq(abi_array_len(col("b"), h).as(s"n$h"),
        abi_log_array_len(col("b"), h).as(s"ln$h")) ++
        (0 to 2).flatMap(k => Seq(
          abi_array_elem(col("b"), h, k).as(s"e${h}_$k"),
          abi_array_address(col("b"), h, k).as(s"ea${h}_$k"),
          abi_array_int(col("b"), h, k).as(s"ei${h}_$k"),
          abi_log_array_elem(col("b"), h, k).as(s"le${h}_$k"),
          abi_log_array_address(col("b"), h, k).as(s"lea${h}_$k"),
          abi_log_array_int(col("b"), h, k).as(s"lei${h}_$k")))
    } ++ Seq(abi_b32_prefix(col("b"), 0).as("bp0"),
      abi_log_b32_prefix(col("b"), 0).as("lbp0"))
    // the string/bytes read and the tuple-array field slot, on both bases
    import graft.functions.{AbiLayout, AbiRead, AbiSlot}
    def at(slot: AbiSlot, read: AbiRead) = AbiLayout.decodeAt(col("b"), slot, read)
    val dynCols = for (base <- Seq(0, 4); h <- 0 to 1) yield Seq(
      at(AbiSlot.ArrayLen(base, h), AbiRead.Str).as(s"s${base}_$h"),
      at(AbiSlot.ArrayLen(base, h), AbiRead.Bytes).as(s"x${base}_$h")) ++
      (for (width <- 2 to 3; j <- 0 to 2; f <- Seq(0, width - 1)) yield
        at(AbiSlot.TupleArrayField(base, h, j, f, width), AbiRead.Uint)
          .as(s"tu${base}_${h}_${width}_${j}_$f")) ++
      (for (j <- 0 to 2; f <- 0 to 1) yield
        at(AbiSlot.TupleArrayField(base, h, j, f, 2), AbiRead.Address)
          .as(s"ta${base}_${h}_2_${j}_$f"))
    val out = decodeRows(bufs, cols, codegen)
    // a separate projection: whole-stage codegen keeps at most 100 fields
    val dynOut = decodeRows(bufs, dynCols.flatten, codegen)
    var (resolved, truncated) = (0, 0)
    for (r <- dynOut) {
      val b = r.getAs[Array[Byte]]("b")
      def gl(n: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(n))) None else Some(r.getAs[Long](n))
      def gs(n: String): Option[String] = Option(r.getAs[String](n))
      for (base <- Seq(0, 4); h <- 0 to 1) {
        val exp = refDyn(b, h, base)
        assert(gs(s"s${base}_$h") ==
          exp.map(new String(_, java.nio.charset.StandardCharsets.UTF_8)),
          s"string base=$base h=$h len=${b.length}")
        assert(gs(s"x${base}_$h") == exp.map(_.map("%02x".format(_)).mkString),
          s"bytes base=$base h=$h len=${b.length}")
        if (exp.isDefined) resolved += 1
        else if (refArrayLen(b, h, base).exists(n => n >= 0 && n <= 64)) truncated += 1
        for (width <- 2 to 3; j <- 0 to 2; f <- Seq(0, width - 1)) {
          val n = s"${base}_${h}_${width}_${j}_$f"
          val w = refTupleArrWord(b, h, j, f, width, base)
          assert(gl(s"tu$n") == w.flatMap(refWord(b, _)), s"tuple array word $n")
          if (width == 2)
            assert(gs(s"ta$n") == w.flatMap(refAddr(b, _)), s"tuple array address $n")
        }
      }
    }
    // the population reaches both arms of the content check: content
    // inside the buffer, and a sane length whose content runs past it
    assert(resolved > 0 && truncated > 0, s"resolved=$resolved truncated=$truncated")
    for (r <- out) {
      val b = r.getAs[Array[Byte]]("b")
      def gl(n: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(n))) None else Some(r.getAs[Long](n))
      def gs(n: String): Option[String] = Option(r.getAs[String](n))
      for (h <- 0 to 1) {
        assert(gl(s"n$h") == refArrayLen(b, h),
          s"abi_array_len h=$h len=${b.length}")
        assert(gl(s"ln$h") == refArrayLen(b, h, 0),
          s"abi_log_array_len h=$h len=${b.length}")
        for (k <- 0 to 2) {
          assert(gl(s"e${h}_$k") == refArrayElem(b, h, k),
            s"abi_array_elem h=$h k=$k len=${b.length}")
          assert(gs(s"ea${h}_$k") == refArrayAddr(b, h, k),
            s"abi_array_address h=$h k=$k len=${b.length}")
          assert(gl(s"ei${h}_$k") == refArrayInt(b, h, k),
            s"abi_array_int h=$h k=$k len=${b.length}")
          assert(gl(s"le${h}_$k") == refArrayElem(b, h, k, 0),
            s"abi_log_array_elem h=$h k=$k len=${b.length}")
          assert(gs(s"lea${h}_$k") == refArrayAddr(b, h, k, 0),
            s"abi_log_array_address h=$h k=$k len=${b.length}")
          assert(gl(s"lei${h}_$k") == refArrayInt(b, h, k, 0),
            s"abi_log_array_int h=$h k=$k len=${b.length}")
        }
      }
      assert(gs("bp0") == (if (b.length < 36) None
        else refB32Prefix(b, 4)), s"abi_b32_prefix len=${b.length}")
      assert(gs("lbp0") == (if (b.length < 32) None
        else refB32Prefix(b, 0)), s"abi_log_b32_prefix len=${b.length}")
    }
  }

  test("dynamic-shape decoders equal BigInteger references on random buffers") {
    dynamicShapeFuzz(codegen = false)
  }
  test("dynamic-shape decoders equal BigInteger references through whole-stage codegen") {
    dynamicShapeFuzz(codegen = true)
  }

test("expr-based walks are TOTAL: corrupt offset/length words NULL, never throw") {
    // the decode cores whose dynamic walks run through expr() string
    // arithmetic (not a Catalyst expression with its own bounds checks)
    // must NULL on corrupt head words - under ANSI mode an unguarded
    // CAST(huge AS INT) raises instead. Feed each walk a battery of
    // hostile offset/length words: huge positive, sign-bit-set
    // (negative as a long), just-past-the-buffer, and a valid offset
    // with a hostile LENGTH word.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def w(v: Long): String = f"$v%064x"
    val hostile = Seq(
      java.lang.Long.MAX_VALUE - 7, -1L, 1L << 62, 4096L, 641L)
    // tradeLogDecode: uid_off is log word 5; plant five normal words
    // then each hostile offset, and one valid offset with hostile length
    val head5 = (0 until 5).map(i => w(i + 1)).mkString
    val tradeBufs =
      hostile.map(h => head5 + w(h)) ++ Seq(
        head5 + w(192L) + hostile.map(w).head, // valid off, hostile len
        // valid off, 0xFF*8 length: conv() is UNSIGNED, so this word
        // (2^64-1 >= 2^63) overflows a plain BIGINT cast - the sign-bit
        // case a 0x7FF..F8 hostile length never exercises
        head5 + w(192L) + w(-1L))
    val t1 = tradeBufs.toDF("d")
      .select(unhex(lit("ab" * 32)).as("topic1"), unhex(col("d")).as("log_data"))
    val r1 = graft.domain.RealAbiOps.tradeLogDecode(t1)
      .select("uid_len", "uid").collect()
    assert(r1.length == tradeBufs.length)
    assert(r1.forall(_.isNullAt(1)), "every hostile uid walk must NULL")
    // compoundInitDecode: valid string offsets but a hostile LENGTH word
    // planted where the tail's length belongs (arm 0: name tail at 224)
    val erc = "1a31d465" + w(1L) + w(2L) + w(3L) + w(4L) +
      w(224L) + w(288L) + w(8L) + w(java.lang.Long.MAX_VALUE - 63) +
      ("00" * 32) + w(4L) + ("61" * 4 + "00" * 28)
    val r2 = graft.domain.RealAbiExtOps.compoundInitDecode(
      Seq((erc, 0)).toDF("c", "arm")
        .select(unhex(col("c")).as("calldata"), col("arm")))
      .select("dec_name", "dec_sym").collect()
    assert(r2.head.isNullAt(0), "a hostile name length must NULL the walk")
    assert(r2.head.getAs[String]("dec_sym") == "aaaa",
      "the sibling walk with a sane length still reads")
  }

  /** One random layout parameter: the param, its value columns (schema
    * fields), the packed value over them, and the decoded name → value
    * each row must read back. */
  private case class FuzzParam(param: graft.functions.AbiParam,
      fields: Seq[org.apache.spark.sql.types.StructField],
      value: graft.functions.AbiValue, gen: Gen[Seq[Any]],
      expect: Seq[Any] => Seq[(String, Any)])

  private def fuzzParam(n: String, calldata: Boolean): Gen[FuzzParam] = {
    import graft.functions.{AbiLayout => AL, AbiRead, AbiValue}
    import org.apache.spark.sql.types._
    def f(name: String, t: DataType) = StructField(name, t)
    val hexGen = (bytes: Int) =>
      Gen.listOfN(bytes, Arbitrary.arbitrary[Byte]).map(_.map("%02x".format(_)).mkString)
    val uintGen = Gen.chooseNum(0L, Long.MaxValue)
    // one static word: (factory, type, value gen, decoded value)
    val words: Seq[(String => graft.functions.AbiParam, DataType, Gen[Any], Any => Any)] = Seq(
      (AL.uint, LongType, uintGen, identity),
      (AL.int, LongType, Arbitrary.arbitrary[Long], identity),
      (AL.address, StringType, hexGen(20), identity),
      (AL.bytes32, StringType, hexGen(32), v => v.toString.take(40)))
    val reads = Seq(AbiRead.Uint, AbiRead.Sint, AbiRead.Address)
    val word = Gen.oneOf(words).map { case (mk, t, g, dec) =>
      FuzzParam(mk(n), Seq(f(n, t)), col(n), g.map(Seq(_)), v => Seq(n -> dec(v.head)))
    }
    val array = Gen.oneOf(0, 1, 2).map { ri =>
      val (_, t, g, _) = words(ri)
      val elems = (0 to 2).map(j => s"${n}e$j")
      FuzzParam(AL.arr(n, reads(ri), elems: _*), f(n, LongType) +: elems.map(f(_, t)),
        AL.elems(col(n), elems.map(col): _*),
        for (len <- Gen.chooseNum(0L, 3L); vs <- Gen.listOfN(3, g)) yield len +: vs,
        v => (n -> v.head) +: elems.zip(v.tail).zipWithIndex.map {
          case ((e, x), j) => e -> (if (j < v.head.asInstanceOf[Long]) x else null)
        })
    }
    val tupleArray = Gen.chooseNum(1, 3).map { width =>
      val fs = (0 until width).map(i => s"${n}f${i}_")
      val cells = for (j <- 0 to 2; c <- fs) yield s"$c$j"
      FuzzParam(AL.tuples(n, 3, fs.map(AL.uint): _*),
        f(n, LongType) +: cells.map(f(_, LongType)),
        AL.rows(col(n), (0 to 2).map(j =>
          AL.fields(fs.map(c => AbiValue.ofColumn(col(s"$c$j"))): _*)): _*),
        for (len <- Gen.chooseNum(0L, 3L); vs <- Gen.listOfN(cells.size, uintGen)) yield len +: vs,
        v => (n -> v.head) +: cells.zip(v.tail).zipWithIndex.map {
          case ((c, x), k) => c -> (if (k / width < v.head.asInstanceOf[Long]) x else null)
        })
    }
    // an offset-passed tuple whose `bytes` member sits between static
    // fields: the nested tail's offset is relative to the tuple
    val tuple = Gen.chooseNum(1, 3).map { k =>
      val fs = (0 until k).map(i => s"${n}t$i")
      FuzzParam(AL.tuple("", (fs.take(1).map(AL.uint) :+ AL.bytes("")) ++ fs.drop(1).map(AL.uint): _*),
        fs.map(f(_, LongType)) :+ f(s"${n}b", StringType),
        AL.fields(((fs.take(1).map(col) :+ col(s"${n}b")) ++ fs.drop(1).map(col))
          .map(AbiValue.ofColumn): _*),
        for (vs <- Gen.listOfN(k, uintGen); b <- Gen.chooseNum(0, 70).flatMap(hexGen))
          yield vs :+ b,
        v => fs.zip(v))
    }
    val dyn = Gen.oneOf(true, false).map { str =>
      FuzzParam(if (str) AL.string(n) else AL.bytes(n), Seq(f(n, StringType)), col(n),
        if (str) Gen.chooseNum(0, 40).flatMap(Gen.listOfN(_, Gen.oneOf(
          Gen.alphaNumChar, Gen.oneOf('é', '€', '中')))).map(cs => Seq(cs.mkString))
        else Gen.chooseNum(0, 70).flatMap(hexGen).map(Seq(_)),
        v => {
          val x = v.head.toString
          val len = if (str) x.getBytes("UTF-8").length else x.length / 2
          Seq(n -> x, s"${n}_len" -> len.toLong)
        })
    }
    Gen.oneOf(Seq(word, array, tupleArray, dyn) ++ (if (calldata) Seq(tuple) else Nil))
      .flatMap(identity)
  }

  test("AbiLayout: decode(pack(values)) == values over random layouts") {
    import graft.functions.{AbiLayout, AbiValue}
    import scala.jdk.CollectionConverters._
    for (seed <- 1 to 40) {
      val calldata = seed % 2 == 0
      val ps = sample(Gen.chooseNum(1, 5).flatMap(k =>
        Gen.sequence[List[FuzzParam], FuzzParam]((0 until k).map(i =>
          fuzzParam(s"p$i", calldata)))), 11000L + seed)
      val layout = AbiLayout(if (calldata) 4 else 0, ps.map(_.param))
      val rows = (0 until 3).map(r => ps.map(p => sample(p.gen, seed * 100L + r * 7 +
        ps.indexOf(p))))
      val schema = org.apache.spark.sql.types.StructType(ps.flatMap(_.fields))
      val df = spark.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(r.flatten: _*)).asJava, schema)
      val values = ps.map(_.value)
      val buf = if (calldata) layout.pack((lit("a1b2c3d4"): AbiValue) +: values: _*)
        else layout.pack(values: _*)
      val out = layout.decode(df.withColumn("buf", buf), "buf").collect()
      for ((row, r) <- out.zip(rows); (p, v) <- ps.zip(r); (name, exp) <- p.expect(v))
        assert(row.get(row.fieldIndex(name)) == exp,
          s"seed=$seed $name in $layout: ${row.get(row.fieldIndex(name))} != $exp")
    }
  }
}
