package graft.bench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, EOFException, IOException, InputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.types.StructType

import graft.sinks.{NativeBlockCodec, NativeFraming, NativeProto}

/** Busy-time and connection accounting shared by both peers: a run whose
  * pace a peer set shows as peer busy time close to the run's wall. */
trait PeerStats {
  val busyNanos = new AtomicLong()
  val connections = new AtomicInteger()
  protected def busy[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally busyNanos.addAndGet(System.nanoTime() - t0)
  }
  def busySeconds: Double = busyNanos.get() / 1e9
}

/** The JetStream subset `NatsCapture.capture` speaks, as a lean peer: one
  * stream, one durable push consumer, explicit acks. Each subscribe to
  * the consumer's deliver subject pushes the next [[LeanBroker.MaxAckPending]]
  * messages in one write, and
  * messages a session leaves unacked are redelivered to the next one.
  * Sessions are served one at a time, in order, so a session's acks are
  * applied before the next session subscribes. Stream sequences are
  * 1..N; publish times are `baseNanos + seq * stepNanos`. */
final class LeanBroker(stream: String, subjects: Array[String],
    payloads: Array[Array[Byte]], baseNanos: Long, stepNanos: Long)
    extends PeerStats with AutoCloseable {
  import LeanBroker.MaxAckPending

  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  def url: String = s"nats://127.0.0.1:${server.getLocalPort}"

  private val n = subjects.length
  private val acked = new java.util.BitSet(n + 1)
  private var cursor = 1 // next never-delivered sequence
  private val redeliver = new java.util.ArrayDeque[Integer]()
  private val deliveries = new Array[Int](n + 1)
  private var consumer: Option[(String, String, String)] = None // name, deliver subject, group
  @volatile var ackCount = 0L

  def unacked: Int = n - acked.cardinality()

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val s = server.accept()
      connections.incrementAndGet()
      try serve(s) catch { case _: IOException => () } finally s.close()
    } catch { case _: SocketException => () }
  }, "bench-broker")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(socket: Socket): Unit = {
    val in = new BufferedInputStream(socket.getInputStream, 1 << 16)
    val out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
    val inFlight = scala.collection.mutable.ArrayBuffer.empty[Int]
    def line(s: String): Unit = { out.write(s.getBytes(UTF_8)); out.write('\r'); out.write('\n') }
    def msg(subject: String, sid: String, reply: String, payload: Array[Byte]): Unit = {
      val hdr = if (reply == null) s"MSG $subject $sid ${payload.length}"
                else s"MSG $subject $sid $reply ${payload.length}"
      line(hdr); out.write(payload); out.write('\r'); out.write('\n')
    }
    def info(name: String, deliver: String, group: String): String =
      s"""{"type":"io.nats.jetstream.api.v1.consumer_info_response","stream_name":"$stream",""" +
      s""""name":"$name","config":{"durable_name":"$name","deliver_subject":"$deliver",""" +
      s""""deliver_group":"$group","ack_policy":"explicit"},""" +
      s""""delivered":{"stream_seq":${cursor - 1}},"ack_floor":{"stream_seq":0},""" +
      s""""num_pending":${n - cursor + 1}}"""
    def field(body: String, k: String): String =
      s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
    val sids = scala.collection.mutable.Map.empty[String, String]
    try {
      line("""INFO {"server_id":"bench-broker","version":"2.10.0","jetstream":true,"max_payload":1048576}""")
      out.flush()
      var open = true
      while (open) {
        val l = readLine(in)
        if (l == null) open = false
        else busy {
          if (l.startsWith("PUB ")) {
            val p = l.substring(4).trim.split(' ')
            val subject = p(0)
            val reply = if (p.length == 3) p(1) else null
            val body = readPayload(in, p.last.toInt)
            if (subject.startsWith("$JS.ACK.")) {
              val t = subject.split('.')
              val seq = t(t.length - 4).toInt
              if (!acked.get(seq)) { acked.set(seq); ackCount += 1 }
            } else if (reply != null) {
              val resp =
                if (subject == "$JS.API.STREAM.NAMES")
                  s"""{"total":1,"offset":0,"limit":1024,"streams":["$stream"]}"""
                else if (subject.startsWith(s"$$JS.API.CONSUMER.INFO.$stream.")) {
                  val name = subject.substring(subject.lastIndexOf('.') + 1)
                  consumer.filter(_._1 == name).fold(
                    """{"error":{"code":404,"err_code":10014,"description":"consumer not found"}}""")(
                    c => info(c._1, c._2, c._3))
                } else if (subject.startsWith(s"$$JS.API.CONSUMER.DURABLE.CREATE.$stream.")) {
                  val name = subject.substring(subject.lastIndexOf('.') + 1)
                  val s = new String(body, UTF_8)
                  val c = (name, field(s, "deliver_subject"), field(s, "deliver_group"))
                  consumer = Some(c)
                  info(c._1, c._2, c._3)
                } else """{"error":{"code":400,"description":"unsupported"}}"""
              msg(reply, sids.getOrElse(reply, "0"), null, resp.getBytes(UTF_8))
              out.flush()
            }
          } else if (l.startsWith("SUB ")) {
            val p = l.substring(4).trim.split(' ')
            sids(p(0)) = p.last
            consumer.filter(_._2 == p(0)).foreach { c =>
              while (inFlight.size < MaxAckPending && (!redeliver.isEmpty || cursor <= n)) {
                val seq: Int =
                  if (!redeliver.isEmpty) redeliver.poll()
                  else { cursor += 1; cursor - 1 }
                deliveries(seq) += 1
                inFlight += seq
                val ts = baseNanos + seq * stepNanos
                msg(subjects(seq - 1), p.last,
                  s"$$JS.ACK.$stream.${c._1}.${deliveries(seq)}.$seq.$seq.$ts.${n - seq}",
                  payloads(seq - 1))
              }
              out.flush()
            }
          } else if (l == "PING") { line("PONG"); out.flush() }
          // CONNECT / UNSUB / PONG: nothing to do
        }
      }
    } finally inFlight.foreach(s => if (!acked.get(s)) redeliver.add(s))
  }

  private def readLine(in: InputStream): String = {
    val b = new java.io.ByteArrayOutputStream(96)
    var c = in.read()
    if (c == -1) return null
    while (c != -1 && c != '\n') { if (c != '\r') b.write(c); c = in.read() }
    b.toString(UTF_8)
  }

  private def readPayload(in: InputStream, len: Int): Array[Byte] = {
    val b = in.readNBytes(len)
    if (b.length != len) throw new EOFException("short payload")
    in.read(); in.read() // CRLF
    b
  }

  override def close(): Unit = { server.close(); acceptor.join(10000) }
}

object LeanBroker {
  /** Messages pushed per subscribe: JetStream's default push window. */
  val MaxAckPending = 1000
}

/** A ClickHouse native-protocol receiver: hello, ping and the INSERT
  * cycle, with concurrent connections served by at most `threads`
  * handler threads. Every inbound frame goes through the public
  * `NativeFraming.readFrame` (CityHash128 verified, LZ4 decoded) and
  * `NativeBlockCodec.decodeStream`; each decoded block is handed to
  * `onBlock` and dropped — rows are folded into the caller's check, not
  * kept. */
final class NativeReceiver(schema: StructType, threads: Int,
    onBlock: NativeBlockCodec.DecodedBlock => Unit)
    extends PeerStats with AutoCloseable {
  import NativeProto._

  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  val blocks = new AtomicLong()
  /** Connections that ended in a protocol or checksum error. */
  val rejects = new AtomicLong()
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val header = {
    val b = new java.io.ByteArrayOutputStream()
    NativeFraming.writeFrame(b, NativeBlockCodec.encode(schema, Seq.empty))
    b.toByteArray
  }

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val s = server.accept()
      connections.incrementAndGet()
      pool.execute(() => try serve(s) catch { case _: IOException => rejects.incrementAndGet() } finally s.close())
    } catch { case _: SocketException => () }
  }, "bench-receiver")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(socket: Socket): Unit = {
    val in = new BufferedInputStream(socket.getInputStream, 1 << 16)
    val out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
    if (readVarint(in) != ClientHello) throw new IOException("expected hello")
    readString(in); readVarint(in); readVarint(in)
    val rev = math.min(readVarint(in), ClientRevision)
    readString(in); readString(in); readString(in)
    writeVarint(out, ServerHello)
    writeString(out, "BenchReceiver"); writeVarint(out, 23L); writeVarint(out, 8L)
    writeVarint(out, ClientRevision)
    writeString(out, "UTC"); writeString(out, "bench"); writeVarint(out, 0L)
    out.flush()
    var open = true
    while (open) {
      val pkt = try readVarint(in) catch { case _: EOFException => -1L }
      pkt match {
        case -1L => open = false
        case ClientPing => writeVarint(out, ServerPong); out.flush()
        case ClientQuery =>
          readString(in) // query id
          if (rev >= MinRevisionWithClientInfo) {
            in.read(); readString(in); readString(in); readString(in)
            in.read(); readString(in); readString(in); readString(in)
            readVarint(in); readVarint(in); readVarint(in)
            if (rev >= MinRevisionWithQuotaKey) readString(in)
            if (rev >= MinRevisionWithVersionPatch) readVarint(in)
          }
          var setting = readString(in)
          while (setting.nonEmpty) { readVarint(in); readString(in); setting = readString(in) }
          readVarint(in) // stage
          if (readVarint(in) != CompressionEnabled) throw new IOException("uncompressed wire")
          readString(in) // the INSERT statement
          readData(in) // end of external tables
          writeVarint(out, ServerData); writeString(out, ""); out.write(header); out.flush()
          var rows = 0L
          var more = true
          while (more) {
            val block = readData(in)
            if (block.rows == 0) more = false
            else busy { onBlock(block); blocks.incrementAndGet(); rows += block.rows }
          }
          writeVarint(out, ServerProgress)
          writeVarint(out, 0L); writeVarint(out, 0L); writeVarint(out, 0L)
          writeVarint(out, rows); writeVarint(out, 0L)
          writeVarint(out, ServerEndOfStream)
          out.flush()
        case other => throw new IOException(s"unexpected client packet $other")
      }
    }
  }

  private def readData(in: InputStream): NativeBlockCodec.DecodedBlock = {
    if (readVarint(in) != ClientData) throw new IOException("expected data packet")
    readString(in)
    // take the whole frame off the socket first, so busy time counts the
    // checksum, LZ4 and decode work and not the wait for the sender
    val head = in.readNBytes(25)
    if (head.length != 25) throw new EOFException("short frame header")
    var size = 0
    for (i <- 0 until 4) size |= (head(17 + i) & 0xff) << (8 * i)
    val rest = in.readNBytes(size - 9)
    if (rest.length != size - 9) throw new EOFException("short frame")
    busy {
      val frame = NativeFraming.readFrame(
        new java.io.SequenceInputStream(new ByteArrayInputStream(head), new ByteArrayInputStream(rest)))
      NativeBlockCodec.decodeStream(new ByteArrayInputStream(frame))
    }
  }

  override def close(): Unit = {
    server.close(); acceptor.join(10000)
    pool.shutdown(); pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
