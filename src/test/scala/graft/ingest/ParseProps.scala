package graft.ingest

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based parser fuzzing (SURVEY.md §5.2): random block shapes —
  * signed/unsigned txs, string/object accountKeys, failed/ok, with/
  * without token balances — must satisfy the structural invariants
  * regardless of input. */
object ParseProps extends Properties("Parse") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = SparkSession.builder()
    // keep the extension surface identical to SparkSpec: whichever
    // suite builds the JVM's shared session first must carry the lake
    // catalog's analyzer rules (build-time-only injection)
    .withExtensions(new graft.plans.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private case class GTx(signed: Boolean, objKeys: Boolean, failed: Boolean,
      nInstr: Int, nBals: Int)

  private val genTx: Gen[GTx] = for {
    signed <- Gen.prob(0.8)
    objKeys <- Gen.prob(0.3)
    failed <- Gen.prob(0.3)
    nInstr <- Gen.choose(0, 4)
    nBals <- Gen.choose(0, 3)
  } yield GTx(signed, objKeys, failed, nInstr, nBals)

  private def txJson(slot: Long, i: Int, t: GTx): String = {
    val sigs = if (t.signed) s"""["sig_${slot}_$i"]""" else "[]"
    val keys = if (t.objKeys) s"""[{"pubkey":"w_$i"}]""" else s"""["w_$i"]"""
    val instrs = (0 until t.nInstr)
      .map(j => s"""{"programId":"p_$j","accounts":[],"data":"d"}""").mkString(",")
    val bals = (0 until t.nBals).map(j =>
      s"""{"accountIndex":$j,"mint":"m_$j","owner":"w_$i","uiTokenAmount":{"amount":"$j","decimals":0,"uiAmountString":"$j"}}""")
      .mkString(",")
    val err = if (t.failed) "\"SomeError\"" else "null"
    s"""{"transaction":{"signatures":$sigs,"message":{"accountKeys":$keys,"instructions":[$instrs]}},
       |"meta":{"err":$err,"fee":1,"preTokenBalances":[],"postTokenBalances":[$bals],"logMessages":[]}}"""
      .stripMargin.replace("\n", "")
  }

  /** A generated block: valid, missing `blockTime` (its transactions are
    * still well-formed), or not JSON at all. A `None` transaction is a
    * null entry of the block's transactions array. */
  private sealed trait Kind
  private case object Valid extends Kind
  private case object NoBlockTime extends Kind
  private case object NotJson extends Kind
  private case class GBlock(slot: Long, kind: Kind, txs: List[Option[GTx]])

  private def blockJson(b: GBlock): String = {
    val txs = b.txs.zipWithIndex.map {
      case (Some(t), i) => txJson(b.slot, i, t)
      case (None, _) => "null"
    }.mkString(",")
    b.kind match {
      case Valid => s"""{"blockTime":${1704067200L + b.slot},"transactions":[$txs]}"""
      case NoBlockTime => s"""{"blockhash":"bh_${b.slot}","transactions":[$txs]}"""
      case NotJson => s"not json {${b.slot}"
    }
  }

  private val genBlocks: Gen[List[GBlock]] =
    Gen.choose(1, 4).flatMap { n =>
      Gen.sequence[List[GBlock], GBlock]((1 to n).map(s => for {
        kind <- Gen.frequency(6 -> Valid, 1 -> NoBlockTime, 1 -> NotJson)
        txs <- Gen.listOfN(3, Gen.frequency(9 -> genTx.map(Some(_)), 1 -> Gen.const(None)))
      } yield GBlock(s.toLong, kind, txs)))
    }

  private def rawOf(blocks: List[GBlock]) = {
    import spark.implicits._
    blocks.map(b => (b.slot, blockJson(b))).toDF("slot", "block_json")
  }

  /** The transactions of valid blocks, null entries included. */
  private def validTxs(blocks: List[GBlock]): List[Option[GTx]] =
    blocks.filter(_.kind == Valid).flatMap(_.txs)

  property("fan-out counts, idempotency, id uniqueness") = forAll(genBlocks) { blocks =>
    import spark.implicits._
    val raw = rawOf(blocks)
    val parsed = Parse.parse(raw).cache()
    val n = parsed.count()

    val signedTxs = validTxs(blocks).flatten.filter(_.signed)
    val expected = signedTxs.size +                      // tx events
      signedTxs.map(_.nInstr).sum +                      // instruction events
      signedTxs.map(_.nBals).sum                         // transfer events

    val uniqueIds = parsed.select("event_id").distinct().count()
    val twice = Parse.parse(raw.union(raw)).count()
    val successOk = parsed
      .filter($"event_type" === "transaction")
      .select(org.apache.spark.sql.functions
        .get_json_object($"raw_payload", "$.success").as("s"))
      .as[String].collect()
      .forall(s => s == "true" || s == "false")
    parsed.unpersist()

    (n == expected) :| s"count $n != expected $expected" &&
      (uniqueIds == n) :| "event ids must be unique" &&
      (twice == n) :| "replaying input must not add events" &&
      successOk :| "success must be boolean"
  }

  property("parse and parseErrors partition the blocks' transactions") =
    forAll(genBlocks) { blocks =>
      import spark.implicits._
      val raw = rawOf(blocks)
      val txEvents = Parse.parse(raw).filter($"event_type" === "transaction").count()
      val errs = Parse.parseErrors(raw).select("error_type").as[String].collect()
      val signed = validTxs(blocks).count(_.exists(_.signed))
      val invalidBlocks = blocks.count(_.kind != Valid)
      val unsigned = validTxs(blocks).size - signed
      (txEvents == signed) :| s"tx events $txEvents != signed txs of valid blocks $signed" &&
        (errs.count(_ == "block_parse_error") == invalidBlocks) :|
          s"block errors ${errs.toSeq} != invalid blocks $invalidBlocks" &&
        (errs.count(_ == "tx_missing_signature") == unsigned) :|
          s"tx errors ${errs.toSeq} != unsigned txs $unsigned" &&
        (errs.length == invalidBlocks + unsigned) :| "no other error rows"
    }
}
