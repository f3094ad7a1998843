package graft.pipebench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Generator parameters: everything a workload varies about its blocks. */
final case class GenParams(
    txPerBlock: Double,       // mean transactions per block
    insPerTx: Double,         // mean instructions per transaction
    balPerTx: Double,         // mean post-token balances per transaction
    zipfS: Double,            // Zipf exponent over programs, wallets and mints
    nPrograms: Int,
    nWallets: Int,
    nMints: Int,
    failShare: Double,        // share of transactions with a non-null err
    pubkeyShare: Double,      // share of blocks whose accountKeys are {"pubkey":…} objects
    missingShare: Double,     // share of slots with no block
    secondsPerSlot: Long) {   // block-time step; sets how many days a range spans
  def describe: String =
    f"tx/block=$txPerBlock%.0f ins/tx=$insPerTx%.1f bal/tx=$balPerTx%.1f " +
      f"zipf=$zipfS%.2f programs=$nPrograms wallets=$nWallets mints=$nMints " +
      f"fail=$failShare%.2f pubkey=$pubkeyShare%.2f missing=$missingShare%.2f " +
      s"s/slot=$secondsPerSlot"
}

/** What one generated block contributes to the expected results. */
final case class BlockStats(
    slot: Long, blockTime: Long, jsonBytes: Int,
    txs: Int, failures: Int,
    programIns: Int, tokenIns: Int, transfers: Int,
    programCounts: Map[String, Int], mints: Set[String], receivers: Set[String],
    errTypes: Map[String, Int]) {
  def events: Long = txs.toLong + programIns + tokenIns + transfers
}

/** Exact totals over a set of distinct blocks: the bookkeeping every
  * output of the pipeline is checked against. */
final case class Totals(
    blocks: Long, txs: Long, failures: Long,
    programIns: Long, tokenIns: Long, transfers: Long,
    programCounts: Map[String, Long], mints: Set[String], receivers: Set[String],
    errTypes: Map[String, Long], jsonBytes: Long) {
  def events: Long = txs + programIns + tokenIns + transfers
  def byType: Map[String, Long] = Map(
    "transaction" -> txs, "program_instruction" -> programIns,
    "token_instruction" -> tokenIns, "token_transfer" -> transfers)
  def topProgramCount: Long =
    if (programCounts.isEmpty) 0L else programCounts.values.max
}

object Totals {
  def of(blocks: Iterable[BlockStats]): Totals = {
    val pc = scala.collection.mutable.HashMap.empty[String, Long]
    val et = scala.collection.mutable.HashMap.empty[String, Long]
    val mints = scala.collection.mutable.HashSet.empty[String]
    val recv = scala.collection.mutable.HashSet.empty[String]
    var n, tx, f, pi, ti, tr, jb = 0L
    blocks.foreach { b =>
      n += 1; tx += b.txs; f += b.failures; pi += b.programIns
      ti += b.tokenIns; tr += b.transfers; jb += b.jsonBytes
      b.programCounts.foreach { case (k, v) => pc(k) = pc.getOrElse(k, 0L) + v }
      b.errTypes.foreach { case (k, v) => et(k) = et.getOrElse(k, 0L) + v }
      mints ++= b.mints; recv ++= b.receivers
    }
    Totals(n, tx, f, pi, ti, tr, pc.toMap, mints.toSet, recv.toSet, et.toMap, jb)
  }
}

/** Seeded generator of Solana `getBlock` JSON (jsonParsed shape). A block
  * is a pure function of (seed, params, slot), so any slot range can be
  * regenerated independently and two ranges never disagree on a slot.
  * The fields the parser skips (balances, rewards, inner instructions,
  * loaded addresses, compute units, …) are emitted too, so the JSON bytes
  * per transaction are close to the real wire format. */
final class BlockGen(val seed: Long, val p: GenParams) {
  import BlockGen._

  private def rng(salt: Long, x: Long) = new SplittableRandom(mix(mix(seed) ^ salt) ^ mix(x))

  private val programs: Array[String] = {
    val r = rng(1L, 0L)
    // rank 1 and 3 are the token programs, so token instructions are a
    // large but not dominant share whatever the skew
    val arr = Array.fill(p.nPrograms)(b58(r, 43))
    arr(0) = TokenProgram
    if (p.nPrograms > 2) arr(2) = Token2022
    arr
  }
  private val wallets = { val r = rng(2L, 0L); Array.fill(p.nWallets)(b58(r, 44)) }
  private val mints = { val r = rng(3L, 0L); Array.fill(p.nMints)(b58(r, 44)) }
  private val programZipf = new Zipf(p.nPrograms, p.zipfS)
  private val walletZipf = new Zipf(p.nWallets, p.zipfS)
  private val mintZipf = new Zipf(p.nMints, p.zipfS)

  /** Slot → block JSON and its bookkeeping; None for a missing slot. */
  def block(slot: Long): Option[(String, BlockStats)] = {
    val r = rng(7L, slot)
    if (r.nextDouble() < p.missingShare) return None
    val blockTime = Epoch0 + slot * p.secondsPerSlot
    val pubkeyObjs = r.nextDouble() < p.pubkeyShare
    val nTx = poisson(r, p.txPerBlock).max(1)
    val sb = new java.lang.StringBuilder(nTx * 1400)
    var failures, programIns, tokenIns, transfers = 0
    val pc = scala.collection.mutable.HashMap.empty[String, Int]
    val et = scala.collection.mutable.HashMap.empty[String, Int]
    val ms = scala.collection.mutable.HashSet.empty[String]
    val rv = scala.collection.mutable.HashSet.empty[String]
    sb.append("{\"blockHeight\":").append(slot - slot / 20)
      .append(",\"blockTime\":").append(blockTime)
      .append(",\"blockhash\":\"").append(b58(r, 44))
      .append("\",\"parentSlot\":").append(slot - 1)
      .append(",\"previousBlockhash\":\"").append(b58(r, 44))
      .append("\",\"rewards\":[{\"commission\":null,\"lamports\":").append(r.nextInt(5000000))
      .append(",\"postBalance\":").append(r.nextLong(1L << 40))
      .append(",\"pubkey\":\"").append(b58(r, 44))
      .append("\",\"rewardType\":\"Fee\"}],\"transactions\":[")
    var t = 0
    while (t < nTx) {
      if (t > 0) sb.append(',')
      val signer = wallets(walletZipf.sample(r))
      val nKeys = 2 + r.nextInt(5)
      val keys = signer +: Array.fill(nKeys - 1)(wallets(r.nextInt(p.nWallets)))
      val nIns = poisson(r, p.insPerTx - 1).max(0) + 1
      val insPrograms = Array.fill(nIns)(programs(programZipf.sample(r)))
      val failed = r.nextDouble() < p.failShare
      val nBal = poisson(r, p.balPerTx)
      sb.append("{\"meta\":{\"computeUnitsConsumed\":").append(1000 + r.nextInt(200000))
      val err: String =
        if (!failed) "null"
        else r.nextInt(4) match {
          case 0 => "{\"InstructionError\":[0,{\"Custom\":" + (6000 + r.nextInt(3)) + "}]}"
          case 1 => "{\"InstructionError\":[1,\"InvalidAccountData\"]}"
          case 2 => "\"InsufficientFundsForRent\""
          case _ => "{\"InstructionError\":[0,\"ProgramFailedToComplete\"]}"
        }
      sb.append(",\"err\":").append(err)
      sb.append(",\"fee\":").append(5000 + 5000 * r.nextInt(3))
      sb.append(",\"innerInstructions\":[],\"loadedAddresses\":{\"readonly\":[],\"writable\":[]}")
      sb.append(",\"logMessages\":[")
      var i = 0
      while (i < nIns) {
        if (i > 0) sb.append(',')
        sb.append("\"Program ").append(insPrograms(i)).append(" invoke [1]\",")
        if (insPrograms(i) == TokenProgram || insPrograms(i) == Token2022)
          sb.append("\"Program log: Instruction: Transfer\",")
        sb.append("\"Program ").append(insPrograms(i)).append(" consumed ")
          .append(r.nextInt(90000)).append(" of 200000 compute units\",\"Program ")
          .append(insPrograms(i)).append(if (failed && i == nIns - 1) " failed\"" else " success\"")
        i += 1
      }
      sb.append("],\"postBalances\":[")
      appendLongs(sb, r, nKeys)
      sb.append("],\"postTokenBalances\":[")
      val balMints = Array.fill(nBal)(mints(mintZipf.sample(r)))
      val balOwners = Array.fill(nBal)(wallets(walletZipf.sample(r)))
      i = 0
      while (i < nBal) {
        if (i > 0) sb.append(',')
        appendBalance(sb, r, i + 1, balMints(i), balOwners(i))
        i += 1
      }
      sb.append("],\"preBalances\":[")
      appendLongs(sb, r, nKeys)
      sb.append("],\"preTokenBalances\":[")
      i = 0
      while (i < nBal) {
        if (i > 0) sb.append(',')
        appendBalance(sb, r, i + 1, balMints(i), if (r.nextBoolean()) balOwners(i) else signer)
        i += 1
      }
      sb.append("],\"rewards\":[],\"status\":")
      sb.append(if (failed) "{\"Err\":" + err + "}" else "{\"Ok\":null}")
      sb.append("},\"transaction\":{\"message\":{\"accountKeys\":[")
      var k = 0
      while (k < nKeys) {
        if (k > 0) sb.append(',')
        if (pubkeyObjs)
          sb.append("{\"pubkey\":\"").append(keys(k)).append("\",\"signer\":")
            .append(k == 0).append(",\"source\":\"transaction\",\"writable\":")
            .append(k < 2).append('}')
        else sb.append('"').append(keys(k)).append('"')
        k += 1
      }
      sb.append("],\"addressTableLookups\":[],\"instructions\":[")
      i = 0
      while (i < nIns) {
        if (i > 0) sb.append(',')
        sb.append("{\"accounts\":[")
        val na = 1 + r.nextInt(3)
        var a = 0
        while (a < na) {
          if (a > 0) sb.append(',')
          sb.append('"').append(keys(r.nextInt(nKeys))).append('"')
          a += 1
        }
        sb.append("],\"data\":\"").append(b58(r, 8 + r.nextInt(40)))
          .append("\",\"programId\":\"").append(insPrograms(i))
          .append("\",\"stackHeight\":null}")
        i += 1
      }
      sb.append("],\"recentBlockhash\":\"").append(b58(r, 44))
        .append("\"},\"signatures\":[\"").append(b58(r, 88))
        .append("\"]},\"version\":0}")

      if (failed) { failures += 1; et(err) = et.getOrElse(err, 0) + 1 }
      insPrograms.foreach { prog =>
        if (prog == TokenProgram || prog == Token2022) tokenIns += 1 else programIns += 1
        pc(prog) = pc.getOrElse(prog, 0) + 1
      }
      transfers += nBal
      ms ++= balMints; rv ++= balOwners
      t += 1
    }
    sb.append("]}")
    val json = sb.toString
    Some(json -> BlockStats(slot, blockTime, json.length, nTx, failures,
      programIns, tokenIns, transfers, pc.toMap, ms.toSet, rv.toSet, et.toMap))
  }

  private def appendLongs(sb: java.lang.StringBuilder, r: SplittableRandom, n: Int): Unit = {
    var i = 0
    while (i < n) { if (i > 0) sb.append(','); sb.append(r.nextLong(1L << 36)); i += 1 }
  }

  private def appendBalance(sb: java.lang.StringBuilder, r: SplittableRandom,
      idx: Int, mint: String, owner: String): Unit = {
    val dec = 6 + 3 * r.nextInt(2)
    val amt = r.nextLong(1L << 40)
    sb.append("{\"accountIndex\":").append(idx).append(",\"mint\":\"").append(mint)
      .append("\",\"owner\":\"").append(owner)
      .append("\",\"programId\":\"").append(TokenProgram)
      .append("\",\"uiTokenAmount\":{\"amount\":\"").append(amt)
      .append("\",\"decimals\":").append(dec)
      .append(",\"uiAmount\":").append(amt / math.pow(10, dec))
      .append(",\"uiAmountString\":\"").append(amt / math.pow(10, dec)).append("\"}}")
  }
}

object BlockGen {
  val TokenProgram = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
  val Token2022 = "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb"
  /** 2024-01-01T00:00:00Z: slot 0's block time. */
  val Epoch0 = 1704067200L
  private val Alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def b58(r: SplittableRandom, n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = Alphabet.charAt(r.nextInt(58)); i += 1 }
    new String(c)
  }

  def poisson(r: SplittableRandom, mean: Double): Int =
    if (mean <= 0) 0
    else if (mean > 30) math.max(0, math.round(mean + math.sqrt(mean) * gauss(r)).toInt)
    else {
      val l = math.exp(-mean); var k = 0; var prod = r.nextDouble()
      while (prod > l) { k += 1; prod *= r.nextDouble() }
      k
    }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Analytics window counts as `AnalyticsRunner` defines them (UTC):
    * today = same date as the anchor; week/month = on or after midnight
    * of the anchor date minus 7/30 days; 24 h = [anchor − 24 h, anchor). */
  final case class Windows(today: Long, day24h: Long, week: Long, month: Long)

  def windows(blocks: Iterable[BlockStats], anchor: Long): Windows = {
    val aDate = LocalDate.ofInstant(Instant.ofEpochSecond(anchor), ZoneOffset.UTC)
    def midnight(d: LocalDate) = d.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val (w7, w30) = (midnight(aDate.minusDays(7)), midnight(aDate.minusDays(30)))
    var today, h24, week, month = 0L
    blocks.foreach { b =>
      val d = LocalDate.ofInstant(Instant.ofEpochSecond(b.blockTime), ZoneOffset.UTC)
      if (d == aDate) today += b.txs
      if (b.blockTime >= anchor - 86400 && b.blockTime < anchor) h24 += b.txs
      if (b.blockTime >= w7) week += b.txs
      if (b.blockTime >= w30) month += b.txs
    }
    Windows(today, h24, week, month)
  }
}

/** Inverse-CDF Zipf sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    lo
  }
}
