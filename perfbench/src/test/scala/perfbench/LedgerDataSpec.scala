package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LedgerDataSpec extends AnyFunSuite {

  private def gen(seed: Long) = LedgerData.generate(seed, nEnvelopes = 2000, nWallets = 40)

  test("the same seed gives identical bytes") {
    assert(java.util.Arrays.equals(gen(7).bytes, gen(7).bytes))
  }

  test("a different seed gives different bytes") {
    assert(!java.util.Arrays.equals(gen(7).bytes, gen(8).bytes))
  }

  test("the feed mixes every envelope kind and some malformed lines") {
    val f = gen(7)
    val text = new String(f.bytes, java.nio.charset.StandardCharsets.UTF_8)
    assert(f.malformed > 0)
    assert(text.contains("\\\"postTokenBalances\\\":[{")) // SPL pairs
    assert(text.contains("\\\"meta\\\":null")) // explicit no-meta
    assert(f.lines.exists(l => l.startsWith("{\"id\":\"tx-") && !l.contains("\\\"meta\\\"")))
  }

  test("expected ledgers follow the ingest limit and drop dust") {
    val f = gen(7)
    assert(f.wallets.exists(_.history > 50))
    assert(f.wallets.exists(_.history < 50))
    f.wallets.foreach { w =>
      assert(w.ingested == math.min(50, w.history))
      assert(w.ingestedTxIds.size == w.ingested)
      assert(w.entries.forall(e => math.abs(e.amount) > LedgerData.Dust))
      assert(w.entries.map(_.txId).toSet.subsetOf(w.ingestedTxIds.toSet))
    }
    // fee-only transactions leave exactly the 5000-lamport debit
    assert(f.wallets.flatMap(_.entries).exists(e => e.asset == "SOL" && e.amount == -5e-6))
  }
}
