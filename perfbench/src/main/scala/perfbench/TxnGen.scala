package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** The live lane's seeded OLTP generator: transactions as pgoutput
  * (protocol v1) payloads, Begin..Commit, over four relations
  * (`users`, `products`, `orders` and its partition `orders_2024q1`,
  * which routes to the parent's topic), plus the records the connector
  * must deliver for each change.
  *
  * Every value comes from one `SplittableRandom(seed)`, so a seed fixes
  * the byte stream. Commit timestamps are stamped when a transaction is
  * committed to the walsender's log ([[GenTxn.stamped]]), not at
  * generation.
  */
object TxnGen {
  final case class Table(relId: Int, name: String, topic: String, cols: Seq[String],
      firstKey: Long)

  val tables: Seq[Table] = Seq(
    Table(16401, "users", "users", Seq("id", "name", "email", "ver"), 1L),
    Table(16402, "products", "products", Seq("id", "name", "price", "ver"), 1L),
    Table(16403, "orders", "orders", Seq("id", "customer", "amount", "ver"), 1L),
    // a declarative partition: its keys are disjoint from the parent's,
    // and it has no mapping of its own, so it must route to `orders`
    Table(16404, "orders_2024q1", "orders", Seq("id", "customer", "amount", "ver"),
      1000000001L))

  /** Topic mapping for the connector: parents only. */
  val topicMapping: Map[String, String] =
    tables.filter(t => t.name == t.topic).map(t => s"public.${t.name}" -> t.topic).toMap

  /** One record the sink must hold: its topic, key and value JSON. */
  final case class Change(topic: String, key: String, op: String, value: String)

  final case class GenTxn(offsetMicros: Long, commitLsn: Long, endLsn: Long,
      payloads: Seq[Array[Byte]], changes: Seq[Change]) {
    def rows: Int = changes.length

    /** Payloads with the commit time written into Begin and Commit. */
    def stamped(pgMicros: Long): Seq[Array[Byte]] = payloads.zipWithIndex.map {
      case (p, 0) => val c = p.clone(); ByteBuffer.wrap(c).putLong(9, pgMicros); c
      case (p, i) if i == payloads.length - 1 =>
        val c = p.clone(); ByteBuffer.wrap(c).putLong(18, pgMicros); c
      case (p, _) => p
    }
  }

  def relationPayloads: Seq[Array[Byte]] = tables.map { t =>
    msg { o =>
      o.writeByte('R'); o.writeInt(t.relId); cstr(o, "public"); cstr(o, t.name)
      o.writeByte('d') // REPLICA IDENTITY DEFAULT: a delete carries the key only
      o.writeShort(t.cols.length)
      t.cols.foreach { c =>
        o.writeByte(if (c == "id") 1 else 0); cstr(o, c)
        o.writeInt(if (c == "id" || c == "ver" || c == "customer") 23 else 25)
        o.writeInt(-1)
      }
    }
  }

  private def msg(f: DataOutputStream => Unit): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    f(new DataOutputStream(b))
    b.toByteArray
  }

  private def cstr(o: DataOutputStream, s: String): Unit = {
    o.write(s.getBytes(StandardCharsets.UTF_8)); o.writeByte(0)
  }

  private def tuple(o: DataOutputStream, cells: Seq[Option[String]]): Unit = {
    o.writeShort(cells.length)
    cells.foreach {
      case Some(v) =>
        val bytes = v.getBytes(StandardCharsets.UTF_8)
        o.writeByte('t'); o.writeInt(bytes.length); o.write(bytes)
      case None => o.writeByte('n')
    }
  }

  /** Stateful generator: live keys per table carry over between
    * transactions, so updates and deletes always hit live rows and
    * every key's history is insert, updates, delete.
    */
  final class Gen(seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val nextKey = mutable.Map(tables.map(t => t.name -> t.firstKey): _*)
    private val live = mutable.Map(tables.map(t => t.name -> mutable.ArrayBuffer.empty[Long]): _*)
    private val version = mutable.Map.empty[(String, Long), Int]
    private var lsn = 0x1000000L
    private var seq = 0

    private def values(t: Table, key: Long, ver: Int): Seq[String] = t.name match {
      case "users" => Seq(key.toString, s"n${rng.nextInt(1000000)}",
        s"u${rng.nextInt(1000000)}@example.org", ver.toString)
      case "products" => Seq(key.toString, s"p${rng.nextInt(1000000)}",
        java.math.BigDecimal.valueOf(rng.nextInt(1000000).toLong, 2).toPlainString, ver.toString)
      case _ => Seq(key.toString, rng.nextInt(15000).toString,
        java.math.BigDecimal.valueOf(rng.nextInt(10000000).toLong, 2).toPlainString, ver.toString)
    }

    private def json(t: Table, cells: Seq[String], op: String): String =
      t.cols.zip(cells).map { case (c, v) => s""""$c":"$v"""" }
        .mkString("{", ",", s""","operation":"$op"}""")

    private def txn(offsetMicros: Long, rows: Seq[(Array[Byte], Change)]): GenTxn = {
      seq += 1
      val xid = 1000 + seq
      val begin = lsn
      val size = rows.map(_._1.length).sum + 64
      val commitLsn = begin + size
      val endLsn = commitLsn + 8
      lsn = endLsn + 8
      val b = msg { o => o.writeByte('B'); o.writeLong(commitLsn); o.writeLong(0L); o.writeInt(xid) }
      val c = msg { o =>
        o.writeByte('C'); o.writeByte(0); o.writeLong(commitLsn); o.writeLong(endLsn)
        o.writeLong(0L)
      }
      GenTxn(offsetMicros, commitLsn, endLsn, b +: rows.map(_._1) :+ c, rows.map(_._2))
    }

    private def insert(t: Table): (Array[Byte], Change) = {
      val key = nextKey(t.name); nextKey(t.name) = key + 1
      live(t.name) += key
      version((t.name, key)) = 1
      val cells = values(t, key, 1)
      (msg { o => o.writeByte('I'); o.writeInt(t.relId); o.writeByte('N'); tuple(o, cells.map(Some(_))) },
        Change(t.topic, key.toString, "INSERT", json(t, cells, "INSERT")))
    }

    /** One OLTP transaction of 1-10 rows: inserts, updates and deletes
      * over all four relations, each key touched at most once.
      */
    def oltp(offsetMicros: Long): GenTxn = {
      val touched = mutable.Set.empty[(String, Long)]
      val n = 1 + rng.nextInt(10)
      val rows = (1 to n).map { _ =>
        val p = rng.nextInt(100)
        val t = tables(if (p < 35) 0 else if (p < 60) 1 else if (p < 80) 2 else 3)
        val keys = live(t.name)
        val kind = rng.nextInt(100)
        val pick = if (keys.isEmpty || kind < 50) -1 else rng.nextInt(keys.length)
        if (pick < 0 || touched((t.name, keys(pick)))) {
          val row = insert(t)
          touched += ((t.name, row._2.key.toLong))
          row
        } else {
          val key = keys(pick)
          touched += ((t.name, key))
          if (kind < 85) {
            val ver = version((t.name, key)) + 1
            version((t.name, key)) = ver
            val cells = values(t, key, ver)
            (msg { o => o.writeByte('U'); o.writeInt(t.relId); o.writeByte('N')
                tuple(o, cells.map(Some(_))) },
              Change(t.topic, key.toString, "UPDATE", json(t, cells, "UPDATE")))
          } else {
            keys(pick) = keys.last; keys.remove(keys.length - 1)
            version.remove((t.name, key))
            (msg { o => o.writeByte('D'); o.writeInt(t.relId); o.writeByte('K')
                tuple(o, Some(key.toString) +: Seq.fill(t.cols.length - 1)(None)) },
              Change(t.topic, key.toString, "DELETE", s"""{"id":"$key","operation":"DELETE"}"""))
          }
        }
      }
      txn(offsetMicros, rows)
    }

    /** One bulk INSERT transaction of `rows` new users. */
    def bulk(rows: Int): GenTxn = txn(0L, Seq.fill(rows)(insert(tables.head)))
  }

  /** The paced phase: `n` OLTP transactions at a fixed offered rate. */
  def paced(gen: Gen, n: Int, perSecond: Double, startMicros: Long = 0L): Seq[GenTxn] =
    (0 until n).map(i => gen.oltp(startMicros + math.round(i * 1e6 / perSecond)))
}
