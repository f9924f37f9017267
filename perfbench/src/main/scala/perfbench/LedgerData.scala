package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded synthetic Solana bronze feed for the `ledger_api` workload.
  *
  * Every line is one bronze JSONL row whose `raw_metadata` is a Solana
  * transaction envelope. The mix covers each branch of the normalizer:
  * native SOL transfers, SPL token pre/post pairs (including a new token
  * account with no pre balance and a foreign-owned balance that must be
  * ignored), dust deltas below the 1e-6 threshold, fee-only transactions,
  * envelopes without `meta`, and a small share of malformed lines that the
  * JSONL source drops.
  *
  * The generator also derives, from the balances it wrote, the ledger each
  * wallet must show after `POST /v1/ingest` (limit `ingestLimit`, oldest
  * first) and `POST /v1/normalize`. That expectation is computed here from
  * the raw numbers, not through the engine's normalizer.
  */
object LedgerData {

  /** One expected ledger entry: bronze row id, asset, signed amount. */
  final case class Entry(txId: String, asset: String, amount: Double)

  /** What the API must serve for one wallet after a limited ingest. */
  final case class WalletTruth(wallet: String, history: Int, ingested: Int,
      ingestedTxIds: Vector[String], entries: Vector[Entry])

  final case class Feed(lines: Vector[String], wallets: Vector[WalletTruth],
      malformed: Int) {
    def bytes: Array[Byte] = {
      val sb = new StringBuilder
      lines.foreach { l => sb.append(l).append('\n') }
      sb.toString.getBytes(StandardCharsets.UTF_8)
    }
    def write(path: Path): Long = {
      val b = bytes
      Files.write(path, b)
      b.length.toLong
    }
  }

  private val Alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
  private val Mints = Vector("USDC", "BONK", "JUP", "RAY", "ORCA", "MSOL")
  val LamportsPerSol = 1e9
  val Dust = 1e-6

  private def base58(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Alphabet.charAt(r.nextInt(Alphabet.length))); i += 1 }
    sb.toString
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private final case class TokenBal(accountIndex: Int, mint: String, owner: String,
      uiAmount: Double)

  private def tokenJson(t: TokenBal): String =
    s"""{"accountIndex":${t.accountIndex},"mint":"${t.mint}","owner":"${t.owner}",""" +
      s""""uiTokenAmount":{"uiAmount":${t.uiAmount},"decimals":6,"amount":"${(t.uiAmount * 1e6).toLong}"}}"""

  /** Generate `nEnvelopes` well-formed envelopes spread over `nWallets`
    * wallets (plus `malformedShare` of broken lines). The same arguments
    * always give the same bytes.
    */
  def generate(seed: Long, nEnvelopes: Int, nWallets: Int,
      malformedShare: Double = 0.01, ingestLimit: Int = 50): Feed = {
    val r = new SplittableRandom(seed)
    val wallets = Vector.fill(nWallets)(base58(r, 44))
    val users = Vector.tabulate(nWallets)(i => s"user-${i % 97}")
    // Skewed history lengths: most wallets sit near the ingest limit, some
    // well above it (the limit truncates), some below (the whole history).
    val weights = Vector.fill(nWallets)(0.25 + r.nextDouble() * 1.5)
    val wsum = weights.sum
    val counts = weights.map(w => math.max(1, (w / wsum * nEnvelopes).toInt))

    val lines = ArrayBuffer.empty[String]
    val truths = ArrayBuffer.empty[WalletTruth]
    var malformed = 0
    var txSeq = 0L
    val t0 = 1672531200L
    for (wi <- wallets.indices) {
      val wallet = wallets(wi)
      val perTx = ArrayBuffer.empty[(String, Vector[Entry])]
      var ts = t0 + r.nextInt(86400)
      for (_ <- 0 until counts(wi)) {
        ts += 1 + r.nextInt(3600) // strictly increasing: the limit is well-defined
        txSeq += 1
        val id = f"tx-$seed%d-$txSeq%08d"
        val sig = base58(r, 64)
        val counterparty = base58(r, 44)
        val walletPos = r.nextInt(3)
        val keys = ArrayBuffer.fill(3)(base58(r, 44))
        keys(walletPos) = wallet
        keys((walletPos + 1) % 3) = counterparty
        val keysJson = keys.zipWithIndex.map { case (k, i) =>
          s"""{"pubkey":"$k","signer":${i == walletPos},"writable":true}"""
        }.mkString("[", ",", "]")
        val pre = Array.fill(3)(1000000000L + r.nextInt(1000000000).toLong)
        val post = pre.clone()
        val kind = r.nextInt(100)
        val entries = ArrayBuffer.empty[Entry]
        var preTok = Vector.empty[TokenBal]
        var postTok = Vector.empty[TokenBal]
        var hasMeta = true
        var nullMeta = false
        if (kind < 45) { // native transfer in or out
          val d = (if (r.nextBoolean()) 1L else -1L) * (10000L + r.nextInt(2000000000).toLong)
          post(walletPos) = pre(walletPos) + d
        } else if (kind < 70) { // SPL pair, fee paid in SOL
          post(walletPos) = pre(walletPos) - 5000L
          val mint = Mints(r.nextInt(Mints.length))
          val idx = 3 + r.nextInt(4)
          val before = math.round(r.nextDouble() * 1e6) / 100.0
          val delta = (if (r.nextBoolean()) 1 else -1) * (1 + math.round(r.nextDouble() * 5e4) / 100.0)
          val after = math.max(0.0, before + delta)
          val newAccount = r.nextInt(5) == 0
          postTok = Vector(TokenBal(idx, mint, wallet, after),
            TokenBal(idx + 4, mint, counterparty, 1.0 + r.nextInt(1000)))
          preTok = (if (newAccount) Vector.empty else Vector(TokenBal(idx, mint, wallet, before))) :+
            TokenBal(idx + 4, mint, counterparty, 2.0 + r.nextInt(1000))
        } else if (kind < 78) { // dust: below the threshold, no entry
          post(walletPos) = pre(walletPos) + 1 + r.nextInt(900)
        } else if (kind < 88) { // fee-only: 5000 lamports out
          post(walletPos) = pre(walletPos) - 5000L
        } else { // no meta at all (absent or explicit null)
          hasMeta = false
          nullMeta = r.nextBoolean()
        }
        if (hasMeta) {
          val nativeAmt = (post(walletPos) - pre(walletPos)).toDouble / LamportsPerSol
          if (math.abs(nativeAmt) > Dust) entries += Entry(id, "SOL", nativeAmt)
          postTok.filter(_.owner == wallet).foreach { pb =>
            val preAmt = preTok.find(_.accountIndex == pb.accountIndex).map(_.uiAmount).getOrElse(0.0)
            val amt = pb.uiAmount - preAmt
            if (math.abs(amt) > Dust) entries += Entry(id, pb.mint, amt)
          }
        }
        val metaJson =
          if (!hasMeta) (if (nullMeta) ""","meta":null""" else "")
          else ",\"meta\":{\"err\":null,\"fee\":5000," +
            s""""preBalances":${pre.mkString("[", ",", "]")},""" +
            s""""postBalances":${post.mkString("[", ",", "]")},""" +
            s""""preTokenBalances":${preTok.map(tokenJson).mkString("[", ",", "]")},""" +
            s""""postTokenBalances":${postTok.map(tokenJson).mkString("[", ",", "]")}}"""
        val envelope =
          s"""{"slot":${100000000L + txSeq},"blockTime":$ts,"transaction":{"signatures":["$sig"],""" +
            s""""message":{"accountKeys":$keysJson,"recentBlockhash":"${base58(r, 32)}"}}$metaJson}"""
        lines += s"""{"id":"$id","user_id":"${users(wi)}","wallet_address":"$wallet",""" +
          s""""timestamp":$ts,"tx_hash":"$sig","chain":"solana","raw_metadata":"${esc(envelope)}"}"""
        perTx += ((id, entries.toVector))
        if (r.nextDouble() < malformedShare) {
          malformed += 1
          lines += s"""{"id":"bad-$txSeq","wallet_address":"$wallet","raw_metadata":"""
        }
      }
      val taken = perTx.take(ingestLimit)
      truths += WalletTruth(wallet, perTx.length, taken.length,
        taken.map(_._1).toVector, taken.flatMap(_._2).toVector)
    }
    // Interleave wallets so a full-file scan cannot stop early on one wallet.
    val shuffled = lines.toArray
    var i = shuffled.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
      i -= 1
    }
    Feed(shuffled.toVector, truths.toVector, malformed)
  }
}
