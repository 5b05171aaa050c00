package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** A browser GET-pixel request as it reaches the collector. */
final case class BrowserRow(qs: String, userAgentString: String,
                            remoteHost: String, requestTimestamp: Long)

/** A JSON-source POST: the body plus the party id sent out of band. */
final case class JsonRow(body: String, partyId: String, userAgentString: String,
                         remoteHost: String, requestTimestamp: Long)

/** What the generator planted: the checks compare the program's counts
  * against these. `routed` counts the events past the transport's size
  * check; `purchases` the routed ones whose event type is `purchase`. */
final case class Truth(browser: Long, json: Long, corrupt: Long,
                       duplicates: Long, oversize: Long, purchases: Long) {
  def events: Long = browser + json
  def routed: Long = events - oversize
}

final case class Workload(browser: IndexedSeq[BrowserRow], json: IndexedSeq[JsonRow],
                          truth: Truth)

/** Seeded event generator. One `SplittableRandom` draws every value in a
  * fixed order, so a seed fixes the input exactly. Shape:
  *  - [[Parties]] parties, Zipf([[ZipfS]])-skewed, so the duplicate flag's
  *    party shuffle sees skew;
  *  - about [[DupRate]] of the events are replayed a few milliseconds behind
  *    their original, within the same party;
  *  - about [[CorruptRate]] of the browser events carry a wrong checksum;
  *  - user agents come from a pool of [[UaPoolSize]] strings, larger than
  *    the program's 1000-entry per-thread user-agent cache;
  *  - about [[OversizeRate]] of the JSON bodies exceed the 4096-byte limit.
  */
object Gen {
  val UaPoolSize = 4000
  val Parties = 20000
  val ZipfS = 1.1
  val DupRate = 0.02
  val CorruptRate = 0.01
  val OversizeRate = 0.001
  val T0: Long = 1767225600000L // 2026-01-01T00:00:00Z
  private val Types = Array("pageView", "click", "addToCart", "purchase")
  private val TypeCdf = Array(0.75, 0.87, 0.95, 1.0)

  /** `events` original events, `jsonShare` of them from the JSON source. */
  final case class Shape(events: Int, jsonShare: Double = 0.2)

  /** Fixed pool of user-agent strings (the seed only picks among them). */
  val uaPool: IndexedSeq[String] = (0 until UaPoolSize).map { i =>
    val v = i / 8
    (i % 8) match {
      case 0 => s"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/${90 + v % 40}.0.${v}.${i % 97} Safari/537.36"
      case 1 => s"Mozilla/5.0 (X11; Linux x86_64; rv:${60 + v % 60}.0) Gecko/20100101 Firefox/${60 + v % 60}.${v}"
      case 2 => s"Mozilla/5.0 (iPhone; CPU iPhone OS ${12 + v % 6}_${v % 5} like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/${12 + v % 6}.${v % 5} Mobile/15E${v}8 Safari/604.1"
      case 3 => s"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_${v % 8}) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/${13 + v % 5}.${v % 3} Safari/605.1.${v}"
      case 4 => s"Mozilla/5.0 (Linux; Android ${8 + v % 6}; SM-G9${v % 100}0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/${80 + v % 40}.0.${v}.${i % 89} Mobile Safari/537.36"
      case 5 => s"Mozilla/5.0 (compatible; Googlebot/2.${v % 3}; +http://www.google.com/bot.html) r$v"
      case 6 => s"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/${90 + v % 40}.0.${v}.0 Safari/537.36 Edg/${90 + v % 40}.0.${v}.${i % 53}"
      case _ => s"curl/7.${50 + v % 40}.${v}"
    }
  }

  /** Cumulative Zipf weights over ranks 1..n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    var acc = 0.0
    val total = w.sum
    w.map { x => acc += x / total; acc }
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def b36(v: Long): String = java.lang.Long.toString(v, 36)

  private def randomId(rng: SplittableRandom, bytes: Int): String = {
    val b = new Array[Byte](bytes)
    var i = 0
    while (i < bytes) { b(i) = rng.nextInt(256).toByte; i += 1 }
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  }

  /** The browser checksum: murmur3_32 over the decoded parameters sorted by
    * key (all but `x`), each as `key=v1,v2,...,;`, rendered base 36. */
  def checksum(params: Seq[(String, String)]): String = {
    val sb = new java.lang.StringBuilder
    params.filter(_._1 != "x").sortBy(_._1).foreach { case (k, v) =>
      sb.append(k).append('=').append(v).append(',').append(';')
    }
    b36(Murmur3x86.hash32(sb.toString.getBytes(UTF_8)).toLong)
  }

  private def encode(params: Seq[(String, String)]): String =
    params.map { case (k, v) => k + "=" + URLEncoder.encode(v, UTF_8) }.mkString("&")

  private final case class Party(id: String, host: String, var session: String,
                                 var seen: Boolean)

  def generate(seed: Long, shape: Shape): Workload = {
    val rng = new SplittableRandom(seed)
    val partyCdf = zipfCdf(Parties, ZipfS)
    val uaCdf = zipfCdf(UaPoolSize, 0.8)
    val parties = Array.tabulate(Parties) { k =>
      val born = T0 - 86400000L * (1 + rng.nextInt(700))
      Party(s"0:${b36(born)}:${randomId(rng, 18)}",
        s"10.${k >> 16 & 255}.${k >> 8 & 255}.${k & 255}", "", seen = false)
    }
    val browser = Array.newBuilder[BrowserRow]
    val json = Array.newBuilder[JsonRow]
    var nBrowser, nJson, corrupt, dups, oversize, purchases = 0L

    var ts = T0
    var i = 0
    while (i < shape.events) {
      ts += 1 + rng.nextInt(8)
      val party = parties(draw(partyCdf, rng.nextDouble()))
      val firstInSession = party.session.isEmpty || rng.nextDouble() < 0.05
      if (firstInSession) party.session = s"0:${b36(ts)}:${randomId(rng, 18)}"
      val newParty = !party.seen
      party.seen = true
      val ua = uaPool(draw(uaCdf, rng.nextDouble()))
      val u = rng.nextDouble()
      val eventType = Types(TypeCdf.indexWhere(u < _))
      val clientTs = ts - rng.nextInt(2000)
      val pageView = s"${b36(ts)}${randomId(rng, 6)}"
      val isJson = rng.nextDouble() < shape.jsonShare
      // a replay, drawn for every event so the draw order never depends on
      // earlier outcomes; oversize and corrupt events are never replayed
      val replayDelta = if (rng.nextDouble() < DupRate) 1 + rng.nextInt(3) else 0
      val special = rng.nextDouble()
      if (isJson) {
        val isOversize = special < OversizeRate
        val pad = if (isOversize) s""","pad":"${"x" * (4200 + rng.nextInt(2000))}"""" else ""
        val iso = java.time.Instant.ofEpochMilli(clientTs).toString
        val body =
          s"""{"event_type":"$eventType","session_id":"${party.session}","event_id":"$pageView",""" +
            s""""is_new_party":$newParty,"is_new_session":$firstInSession,""" +
            s""""client_timestamp_iso":"$iso","parameters":{"item":"sku${rng.nextInt(5000)}",""" +
            s""""price":${rng.nextInt(20000) / 100.0}$pad}}"""
        val row = JsonRow(body, party.id, ua, party.host, ts)
        json += row
        nJson += 1
        if (isOversize) oversize += 1
        else {
          if (eventType == "purchase") purchases += 1
          if (replayDelta > 0) {
            json += row.copy(requestTimestamp = ts + replayDelta)
            nJson += 1; dups += 1
            if (eventType == "purchase") purchases += 1
          }
        }
      } else {
        val params = Seq(
          "p" -> party.id, "s" -> party.session, "v" -> pageView, "e" -> s"${pageView}0",
          "c" -> b36(clientTs), "n" -> (if (newParty) "t" else "f"),
          "f" -> (if (firstInSession) "t" else "f"),
          "l" -> s"https://shop.example/p/${rng.nextInt(20000)}?ref=${rng.nextInt(50)}",
          "r" -> s"https://search.example/q?w=${rng.nextInt(1000)}",
          "w" -> b36(320 + rng.nextInt(1600)), "h" -> b36(480 + rng.nextInt(800)),
          "i" -> b36(320 + rng.nextInt(2240)), "j" -> b36(480 + rng.nextInt(1000)),
          "k" -> b36(1 + rng.nextInt(3)), "t" -> eventType)
        val isCorrupt = replayDelta == 0 && special < CorruptRate
        val sum = checksum(params)
        val x = if (!isCorrupt) sum
          else b36(java.lang.Long.parseLong(sum, 36) + 1 + rng.nextInt(1000))
        val row = BrowserRow(encode(params :+ ("x" -> x)), ua, party.host, ts)
        browser += row
        nBrowser += 1
        if (isCorrupt) corrupt += 1
        if (eventType == "purchase") purchases += 1
        if (replayDelta > 0) {
          browser += row.copy(requestTimestamp = ts + replayDelta)
          nBrowser += 1; dups += 1
          if (eventType == "purchase") purchases += 1
        }
      }
      i += 1
    }
    Workload(
      browser.result().toIndexedSeq.sortBy(_.requestTimestamp),
      json.result().toIndexedSeq.sortBy(_.requestTimestamp),
      Truth(nBrowser, nJson, corrupt, dups, oversize, purchases))
  }
}

/** MurmurHash3 x86_32, seed 0, from the published algorithm: the
  * benchmark's own copy, so a checksum bug in the program cannot also hide
  * in the inputs that test it. */
object Murmur3x86 {
  def hash32(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = 0
    val n = data.length / 4
    var i = 0
    while (i < n) {
      val b = i * 4
      var k = (data(b) & 0xff) | (data(b + 1) & 0xff) << 8 |
        (data(b + 2) & 0xff) << 16 | (data(b + 3) & 0xff) << 24
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    var k = 0
    val t = n * 4
    val rem = data.length & 3
    if (rem == 3) k ^= (data(t + 2) & 0xff) << 16
    if (rem >= 2) k ^= (data(t + 1) & 0xff) << 8
    if (rem >= 1) { k ^= data(t) & 0xff; k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }
}
