package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{InetSocketAddress, ServerSocket, SocketException, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable

/** In-process POS REST API on one server thread, following the contract
  * `graft.ingest.PosApiClient` expects:
  *
  *  - `GET /items` — the item catalogue;
  *  - `GET /receipts?limit&updated_at_min` — receipts with
  *    `updated_at_min <= updated_at <= clock`, newest first, at most `limit` (default 250) per page, with a
  *    `cursor` naming the next page when more remain;
  *  - `GET /receipts?cursor=c` — that next page;
  *  - 402 for a request without the expected bearer key (the API's plan
  *    check), which the client reads as an empty batch.
  *
  * `clockMs` is the stub's "now": receipts created after it are not yet
  * visible. Requests, response bytes and service time are counted here.
  */
final class RestStub(receipts: IndexedSeq[Receipt], apiKey: String) {
  private val sorted = receipts.sortBy(_.epochMs).toArray
  private val times = sorted.map(_.epochMs)
  @volatile var clockMs: Long = Long.MaxValue
  @volatile var maxServedUpdatedAt: Option[String] = None
  val requests = new AtomicLong
  val bytes = new AtomicLong
  val serviceNanos = new AtomicLong
  private val served = mutable.ArrayBuffer.empty[Receipt]
  private val cursors = new ConcurrentHashMap[String, (Int, Int, Int)]()
  private val cursorSeq = new AtomicInteger
  private val pool = Executors.newSingleThreadExecutor()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/items", (ex: HttpExchange) => serve(ex)(
    200 -> """{"items":[{"id":1,"item_name":"Smash Burger"},{"id":2,"item_name":"Combo Pa Dos"}]}"""))
  server.createContext("/receipts", (ex: HttpExchange) => serve(ex)(receiptsPage(ex)))
  server.start()

  def port: Int = server.getAddress.getPort

  /** Receipts served since the last call, in serving order. */
  def drainServed(): Seq[Receipt] = served.synchronized {
    val out = served.toSeq
    served.clear()
    out
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def serve(ex: HttpExchange)(body: => (Int, String)): Unit = {
    val t0 = System.nanoTime()
    try {
      val (code, text) = body
      val b = text.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
      requests.incrementAndGet()
      bytes.addAndGet(b.length.toLong)
    } finally {
      ex.close()
      serviceNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** First index with time >= t. */
  private def lowerBound(t: Long): Int = {
    val i = java.util.Arrays.binarySearch(times, t)
    if (i < 0) -i - 1 else { var j = i; while (j > 0 && times(j - 1) == t) j -= 1; j }
  }

  /** One past the last index with time <= t. */
  private def upperBound(t: Long): Int = {
    val i = java.util.Arrays.binarySearch(times, t)
    if (i < 0) -i - 1 else { var j = i; while (j < times.length && times(j) == t) j += 1; j }
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  private def receiptsPage(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $apiKey")
      return 402 -> """{"error":"payment required"}"""
    val p = params(ex)
    // A page is the index range [lo, hi) served newest first from hi-1.
    val (lo, hi, limit) = p.get("cursor") match {
      case Some(c) => Option(cursors.remove(c)).getOrElse((0, 0, 1))
      case None =>
        val from = p.get("updated_at_min").map(v => java.time.Instant.parse(v).toEpochMilli)
        (from.map(lowerBound).getOrElse(0), upperBound(clockMs),
          p.get("limit").map(_.toInt).getOrElse(250))
    }
    val from = math.max(lo, hi - limit)
    val page = (hi - 1 to from by -1).map(sorted(_))
    served.synchronized(served ++= page)
    page.headOption.foreach { newest =>
      if (maxServedUpdatedAt.forall(_ < newest.ts)) maxServedUpdatedAt = Some(newest.ts)
    }
    val cursor =
      if (from > lo) {
        val c = "c" + cursorSeq.incrementAndGet()
        cursors.put(c, (lo, from, limit))
        s""","cursor":"$c""""
      } else ""
    200 -> page.map(_.json).mkString("{\"receipts\":[", ",", s"]$cursor}")
  }
}

/** Minimal SMTP sink on one thread: accepts sessions one after another,
  * answers EHLO / MAIL / RCPT / DATA / QUIT, and keeps each DATA payload.
  */
final class SmtpSink {
  private val server = new ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
  private val received = new java.util.concurrent.LinkedBlockingQueue[String]()
  private val thread = new Thread(() => loop(), "smtp-sink")
  thread.setDaemon(true)
  thread.start()

  def port: Int = server.getLocalPort

  /** The next DATA payload received, waiting at most 30 s for it. */
  def take(): String =
    Option(received.poll(30, TimeUnit.SECONDS))
      .getOrElse(throw new IllegalStateException("no message reached the SMTP sink in 30 s"))

  def stop(): Unit = {
    server.close()
    thread.join(10000)
  }

  private def loop(): Unit =
    try while (true) session(server.accept())
    catch { case _: SocketException => () } // closed by stop()

  private def session(sock: java.net.Socket): Unit =
    try {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      val out = new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8)
      def reply(s: String): Unit = { out.write(s + "\r\n"); out.flush() }
      reply("220 perfbench ESMTP")
      var line = in.readLine()
      while (line != null) {
        val upper = line.toUpperCase
        if (upper.startsWith("EHLO")) { reply("250-perfbench"); reply("250 8BITMIME") }
        else if (upper.startsWith("DATA")) {
          reply("354 end with <CRLF>.<CRLF>")
          val sb = new StringBuilder
          var l = in.readLine()
          while (l != null && l != ".") {
            sb.append(if (l.startsWith("..")) l.substring(1) else l).append("\r\n")
            l = in.readLine()
          }
          received.put(sb.toString)
          reply("250 OK queued")
        } else if (upper.startsWith("QUIT")) { reply("221 bye"); line = null }
        else reply("250 OK")
        if (line != null) line = in.readLine()
      }
    } finally sock.close()
}

object SmtpSink {
  /** The base64 PDF attachment of a MIME message built by `Emailer.mime`. */
  def attachment(mime: String): Array[Byte] = {
    val parts = mime.split("\r\n")
    val start = parts.indexWhere(_.startsWith("Content-Type: application/pdf"))
    val body = parts.drop(start).dropWhile(_.nonEmpty).drop(1).takeWhile(!_.startsWith("--"))
    java.util.Base64.getMimeDecoder.decode(body.mkString("\r\n"))
  }
}
