package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cdc.{PgOutput, PgOutputSession}

class TxnGenSpec extends AnyFunSuite {
  /** The stream a walsender sends, length-framed like a capture file:
    * relations, then every transaction stamped at `baseMicros` plus its
    * offset.
    */
  private def framed(txns: Seq[TxnGen.GenTxn], baseMicros: Long): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(b)
    (TxnGen.relationPayloads ++ txns.flatMap(t => t.stamped(baseMicros + t.offsetMicros)))
      .foreach { p => o.writeInt(p.length); o.write(p) }
    b.toByteArray
  }

  private def stream(seed: Long): Array[Byte] = {
    val gen = new TxnGen.Gen(seed)
    val txns = TxnGen.paced(gen, 200, 10.0) ++ Seq.fill(3)(gen.bulk(50))
    framed(txns, baseMicros = 0L)
  }

  test("the same seed gives a byte-identical pgoutput stream") {
    assert(java.util.Arrays.equals(stream(7L), stream(7L)))
  }

  test("a different seed gives a different stream") {
    assert(!java.util.Arrays.equals(stream(7L), stream(8L)))
  }

  test("the stream decodes to exactly the generated changes, in order") {
    val gen = new TxnGen.Gen(11L)
    val txns = TxnGen.paced(gen, 300, 10.0)
    val session = new PgOutputSession
    val events = PgOutput.readFramed(new java.io.ByteArrayInputStream(framed(txns, 0L)))
      .flatMap(session.feed).toSeq
    val changes = txns.flatMap(_.changes)
    assert(events.map(_.op) == changes.map(_.op))
    val keys = events.map(e => Option(e.newData).getOrElse(e.oldData).toMap.apply("id"))
    assert(keys == changes.map(_.key))
    assert(txns.map(_.commitLsn).sliding(2).forall { case Seq(a, b) => a < b })
  }

  test("updates and deletes only touch live keys; every key starts with an insert") {
    val changes = TxnGen.paced(new TxnGen.Gen(3L), 500, 10.0).flatMap(_.changes)
    changes.groupBy(c => (c.topic, c.key)).values.foreach { cs =>
      assert(cs.head.op == "INSERT")
      assert(!cs.init.exists(_.op == "DELETE"))
    }
    assert(changes.map(_.op).toSet == Set("INSERT", "UPDATE", "DELETE"))
  }
}
