package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import graft.sources.cdc.PgWire

/** Wall-clock time in microseconds since the Unix epoch (the clock file
  * modification times use too).
  */
object WallClock {
  def micros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** The benchmark's loopback stand-in for a primary's walsender. It
  * keeps a commit log of generated transactions; one replication
  * connection at a time streams every logged transaction after the
  * client's start LSN, in LSN order, as soon as it is committed — so
  * transactions committed while no client is connected queue up like WAL
  * retained by a slot. It records when each Commit frame was sent and
  * every standby status update the client sends back.
  */
final class Walsender(relations: Seq[Array[Byte]]) extends AutoCloseable {
  import PgWire._

  private final class Logged(val commitLsn: Long, val payloads: Seq[Array[Byte]])

  private val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort

  private val log = mutable.ArrayBuffer.empty[Logged]
  /** Commit LSN -> wall micros when its Commit frame was flushed. */
  val commitSent = new ConcurrentHashMap[Long, Long]
  /** (wall micros received, flushed LSN) of every standby status update. */
  val statusLog = new ConcurrentLinkedQueue[(Long, Long)]

  @volatile private var closed = false
  @volatile private var conn: Socket = _

  private val acceptor = new Thread(() => {
    while (!closed) {
      try {
        val s = server.accept()
        conn = s
        try serve(s) catch { case _: Throwable => () }
        finally s.close()
      } catch { case _: Throwable => () }
    }
  }, "perfbench-walsender")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Appends a transaction to the commit log with its commit time. */
  def commit(txn: TxnGen.GenTxn, pgMicros: Long): Unit = log.synchronized {
    log += new Logged(txn.commitLsn, txn.stamped(pgMicros))
    log.notifyAll()
  }

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    val len = in.readInt()
    in.readFully(new Array[Byte](len - 4)) // startup packet: trust auth
    writeMessage(out, 'R', Array[Byte](0, 0, 0, 0))
    writeMessage(out, 'Z', Array('I'.toByte))
    val (t, body) = readMessage(in)
    require(t == 'Q', s"expected START_REPLICATION, got '$t'")
    val sql = new String(body, 0, body.length - 1, StandardCharsets.UTF_8)
    val startLsn = parseLsn("LOGICAL (\\S+)".r.findFirstMatchIn(sql)
      .getOrElse(throw new IllegalArgumentException(s"unsupported command: $sql")).group(1))
    writeMessage(out, 'W', Array[Byte](0, 0, 0))

    @volatile var open = true
    val feedback = new Thread(() => {
      try {
        while (open) {
          val (ft, fb) = readMessage(in)
          ft match {
            case 'd' => decodeCopyPayload(fb) match {
              case s: StandbyStatus => statusLog.add((WallClock.micros(), s.flushedLsn))
              case _ => ()
            }
            case 'X' => open = false
            case _ => ()
          }
        }
      } catch { case _: Throwable => () }
      finally open = false
    }, "perfbench-walsender-feedback")
    feedback.setDaemon(true)
    feedback.start()

    def frame(lsn: Long, payload: Array[Byte]): Unit = {
      val x = encodeXLogData(XLogData(lsn, lsn, nowPgMicros(), payload))
      out.writeByte('d'); out.writeInt(4 + x.length); out.write(x)
    }
    relations.foreach(frame(startLsn, _))
    out.flush()
    var next = log.synchronized(log.indexWhere(_.commitLsn > startLsn) match {
      case -1 => log.length
      case i => i
    })
    while (open && !closed) {
      val txn = log.synchronized {
        if (next >= log.length) log.wait(20)
        if (next < log.length) Some(log(next)) else None
      }
      txn.foreach { l =>
        l.payloads.foreach(frame(l.commitLsn, _))
        out.flush()
        commitSent.put(l.commitLsn, WallClock.micros())
        next += 1
      }
    }
    feedback.join(1000)
  }

  override def close(): Unit = {
    closed = true
    server.close()
    Option(conn).foreach(_.close())
    acceptor.join(5000)
  }
}
