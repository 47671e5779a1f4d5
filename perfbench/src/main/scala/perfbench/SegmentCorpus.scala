package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.collection.mutable

/** Seeded, single-threaded Segment corpus generator with a ground-truth
  * manifest.
  *
  * Every event is one NDJSON line in one of `files` gzip files. The mix
  * covers the six Segment types plus one unknown type (dropped by the
  * job), Zipf-distributed track event names, nested
  * `context`/`properties`/`traits` objects and a positional `products`
  * array of 0-3 items. Two planted defects give the checks something to
  * find:
  *
  *  - uncoercible cells: a track's `properties.price` is the string "n/a"
  *    instead of a decimal. The per-event table types `price` from its
  *    row with the smallest message id, so a misfit is only planted on
  *    an event whose name has already been emitted (message ids grow with
  *    the emission index);
  *  - re-deliveries: an event is written a second time, byte-identical,
  *    into a later file.
  *
  * All numbers are written with two decimals, and no string value looks
  * like a number, so the only type conflicts are the planted ones.
  */
object SegmentCorpus {

  final case class Spec(
      events: Int,
      files: Int,
      eventNames: Int,
      users: Int,
      dupFrac: Double,
      misfitFrac: Double,
      unknownFrac: Double,
      /** event-time span of the corpus: sets the date partitions written */
      spanHours: Int,
      /** the Segment types emitted, in the proportions of [[TypeMix]] */
      types: Seq[String] = TypeMix.map(_._1))

  /** What one batch `execute` of the corpus into an empty warehouse must
    * produce. */
  final case class Manifest(
      lines: Long,
      rawBytes: Long,
      /** rows per destination table, re-deliveries included (the batch
        * path appends blindly) */
      tableRows: Map[String, Long],
      /** rows per destination table once re-deliveries are dropped (the
        * streaming path deduplicates on message id) */
      distinctTableRows: Map[String, Long],
      /** distinct message ids carrying a planted misfit cell */
      misfits: Long,
      distinctMessageIds: Long,
      distinctTrackIds: Long,
      /** distinct message ids of the unknown type, which no table keeps */
      unknownIds: Long,
      /** userId -> message id of its last-write-wins identify */
      userWinners: Map[String, String])

  /** (Segment event name, the warehouse table it lands in). "Pages"
    * collides with a reserved table name, so it gets the `esc_` prefix. */
  val EventNames: IndexedSeq[(String, String)] = IndexedSeq(
    "Product Viewed" -> "product_viewed",
    "Page Scrolled" -> "page_scrolled",
    "Product Added" -> "product_added",
    "Cart Viewed" -> "cart_viewed",
    "Checkout Started" -> "checkout_started",
    "Order Completed" -> "order_completed",
    "Product List Viewed" -> "product_list_viewed",
    "Products Searched" -> "products_searched",
    "Pages" -> "esc_pages",
    "Product Clicked" -> "product_clicked",
    "Product Removed" -> "product_removed",
    "checkoutStepViewed" -> "checkout_step_viewed",
    "Coupon Applied" -> "coupon_applied",
    "Promotion Viewed" -> "promotion_viewed",
    "Signed Up" -> "signed_up",
    "Signed In" -> "signed_in",
    "Signed Out" -> "signed_out",
    "Video Playback Started" -> "video_playback_started",
    "Email Opened" -> "email_opened",
    "Email Link Clicked" -> "email_link_clicked",
    "Push Notification Received" -> "push_notification_received",
    "Application Opened" -> "application_opened",
    "Application Backgrounded" -> "application_backgrounded",
    "Wishlist Product Added" -> "wishlist_product_added")

  /** Segment types and their relative frequency. */
  val TypeMix: Seq[(String, Double)] = Seq("track" -> 0.62, "page" -> 0.15, "identify" -> 0.10,
    "screen" -> 0.07, "group" -> 0.03, "alias" -> 0.02)

  private val BaseMillis = 1709251200000L // 2024-03-01T00:00:00Z
  private val Channels = Array("server", "client", "mobile")
  private val Plans = Array("free", "pro", "enterprise")
  private val PageNames = Array("Home", "Pricing", "Docs", "Blog", "Careers")
  private val ScreenNames = Array("Dashboard", "Settings", "Feed")
  private val Industries = Array("retail", "media", "finance", "health")
  private val Categories = Array("shoes", "books", "games", "garden", "tools")

  private final class FastGzip(out: OutputStream) extends GZIPOutputStream(out, 1 << 16) {
    `def`.setLevel(Deflater.BEST_SPEED)
  }

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString match {
    case s if s.length == 20 => s.dropRight(1) + ".000Z" // whole second
    case s                   => s
  }

  private def money(cents: Int): String = s"${cents / 100}.${"%02d".format(cents % 100)}"

  /** Zipf(1.1) cumulative weights over the first `n` names. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def generate(spec: Spec, seed: Long, dir: File): Manifest = {
    require(spec.eventNames >= 1 && spec.eventNames <= EventNames.length)
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf(spec.eventNames)
    val mix = TypeMix.filter { case (t, _) => spec.types.contains(t) }
    val mixTotal = mix.map(_._2).sum
    val trackShare = mix.collectFirst { case ("track", w) => w / mixTotal }.getOrElse(1.0)
    val stepMs = spec.spanHours * 3600000L / spec.events
    val pending = Array.fill(spec.files)(mutable.ArrayBuffer.empty[String])
    val tableRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val distinctRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val seenNames = mutable.Set.empty[Int]
    val winners = mutable.Map.empty[String, (Long, String)]
    var misfits = 0L
    var trackIds = 0L
    var unknownIds = 0L
    var lines = 0L
    var rawBytes = 0L

    // one event -> (its NDJSON line, the tables one batch execute puts it in)
    def event(i: Int): (String, Seq[String]) = {
      val mid = f"m$seed%d-$i%08d"
      val ts = BaseMillis + i * stepMs + rnd.nextLong(math.max(stepMs, 1L))
      val sb = new java.lang.StringBuilder(640)
      val uid = rnd.nextInt(spec.users)
      val withUser = rnd.nextInt(10) != 0
      def base(tpe: String): Unit = {
        sb.append("{\"type\":\"").append(tpe)
          .append("\",\"messageId\":\"").append(mid)
          .append("\",\"anonymousId\":\"anon-").append(Integer.toHexString(uid * 31 + 7)).append('"')
        if (withUser) sb.append(",\"userId\":\"u").append(uid).append('"')
        sb.append(",\"timestamp\":\"").append(iso(ts))
          .append("\",\"originalTimestamp\":\"").append(iso(ts))
          .append("\",\"sentAt\":\"").append(iso(ts + 40 + rnd.nextInt(200)))
          .append("\",\"receivedAt\":\"").append(iso(ts + 300 + rnd.nextInt(900)))
          .append("\",\"channel\":\"").append(Channels(rnd.nextInt(3)))
          .append("\",\"writeKey\":\"wk-").append(Integer.toHexString(rnd.nextInt(4) + 10))
          .append("\",\"ip\":\"10.").append(rnd.nextInt(256)).append('.').append(rnd.nextInt(256))
          .append('.').append(rnd.nextInt(256)).append('"')
        sb.append(",\"context\":{\"library\":{\"name\":\"analytics-java\",\"version\":\"3.4.0\"}")
          .append(",\"locale\":\"").append(if (rnd.nextBoolean()) "en-US" else "de-DE")
          .append("\",\"active\":").append(rnd.nextBoolean())
          .append(",\"page\":{\"path\":\"/p/").append(rnd.nextInt(500))
          .append("\",\"referrer\":\"https://search.example/q/").append(rnd.nextInt(90)).append("\"}")
        if (rnd.nextInt(10) < 3)
          sb.append(",\"campaign\":{\"source\":\"news\",\"medium\":\"email\",\"name\":\"spring-")
            .append(rnd.nextInt(4)).append("\"}")
        sb.append('}')
      }
      val tpe =
        if (rnd.nextDouble() < spec.unknownFrac) "heartbeat"
        else {
          var w = rnd.nextDouble() * mixTotal
          mix.find { case (_, share) => w -= share; w < 0 }.getOrElse(mix.last)._1
        }
      val tables: Seq[String] =
        if (tpe == "track") {
          val u = rnd.nextDouble()
          var k = 0
          while (cdf(k) < u) k += 1
          val (name, table) = EventNames(k)
          base("track")
          sb.append(",\"event\":\"").append(name).append('"')
          val misfit = seenNames.contains(k) && rnd.nextDouble() < spec.misfitFrac / trackShare
          seenNames += k
          sb.append(",\"properties\":{\"price\":")
          if (misfit) { sb.append("\"n/a\""); misfits += 1 }
          else sb.append(money(99 + rnd.nextInt(50000)))
          sb.append(",\"currency\":\"").append(if (rnd.nextInt(4) == 0) "EUR" else "USD")
            .append("\",\"category\":\"").append(Categories(rnd.nextInt(Categories.length)))
            .append("\",\"products\":[")
          val items = rnd.nextInt(4)
          for (j <- 0 until items) {
            if (j > 0) sb.append(',')
            sb.append("{\"sku\":\"SKU-").append(Integer.toHexString(0x1000 + rnd.nextInt(4096)))
              .append("\",\"price\":").append(money(99 + rnd.nextInt(9000)))
              .append(",\"quantity\":").append(1 + rnd.nextInt(5)).append('}')
          }
          sb.append("]}")
          trackIds += 1
          Seq("tracks", table)
        } else if (tpe == "page") {
          base("page")
          val n = PageNames(rnd.nextInt(PageNames.length))
          sb.append(",\"name\":\"").append(n).append("\",\"properties\":{\"title\":\"")
            .append(n).append(" page\",\"url\":\"https://shop.example/").append(n.toLowerCase)
            .append("\",\"path\":\"/").append(n.toLowerCase).append("\"}")
          Seq("pages")
        } else if (tpe == "identify") {
          base("identify")
          sb.append(",\"traits\":{\"email\":\"user").append(uid).append("@mail.example\"")
            .append(",\"plan\":\"").append(Plans(rnd.nextInt(3)))
            .append("\",\"age\":").append(18 + rnd.nextInt(60))
            .append(",\"createdAt\":\"").append(iso(BaseMillis - rnd.nextInt(1 << 30)))
            .append("\"}")
          if (withUser) {
            val u = s"u$uid"
            val cur = winners.get(u)
            if (cur.forall { case (cts, cmid) => ts > cts || (ts == cts && mid > cmid) })
              winners(u) = (ts, mid)
          }
          Seq("identities")
        } else if (tpe == "screen") {
          base("screen")
          sb.append(",\"name\":\"").append(ScreenNames(rnd.nextInt(ScreenNames.length)))
            .append("\",\"properties\":{\"variation\":\"").append(if (rnd.nextBoolean()) "a" else "b")
            .append("\"}")
          Seq("screens")
        } else if (tpe == "group") {
          base("group")
          sb.append(",\"groupId\":\"g-").append(rnd.nextInt(900))
            .append("\",\"traits\":{\"industry\":\"").append(Industries(rnd.nextInt(Industries.length)))
            .append("\",\"employees\":").append(5 + rnd.nextInt(5000)).append('}')
          Seq("identities")
        } else if (tpe == "alias") {
          base("alias")
          sb.append(",\"previousId\":\"anon-").append(Integer.toHexString(uid * 31 + 7)).append('"')
          Seq("identities")
        } else {
          base("heartbeat")
          unknownIds += 1
          Nil
        }
      sb.append('}')
      (sb.toString, tables)
    }

    var i = 0
    for (f <- 0 until spec.files) {
      val file = new File(dir, f"part-$f%04d.json.gz")
      val os = new FileOutputStream(file)
      val gz = new FastGzip(new BufferedOutputStream(os, 1 << 16))
      def write(line: String): Unit = {
        val b = line.getBytes(StandardCharsets.UTF_8)
        gz.write(b); gz.write('\n')
        rawBytes += b.length + 1
        lines += 1
      }
      val end = ((f + 1).toLong * spec.events / spec.files).toInt
      while (i < end) {
        val (line, tables) = event(i)
        write(line)
        tables.foreach { t => tableRows(t) += 1; distinctRows(t) += 1 }
        if (f + 1 < spec.files && rnd.nextDouble() < spec.dupFrac) {
          // re-delivered byte-identical into a later file
          pending(f + 1 + rnd.nextInt(spec.files - f - 1)) += line
          tables.foreach(t => tableRows(t) += 1)
        }
        i += 1
      }
      pending(f).foreach(write)
      pending(f).clear()
      gz.close()
      // the streaming file source orders by modification time
      file.setLastModified(BaseMillis + f * 1000L)
    }
    val derived = Map("users" -> winners.size.toLong) ++
      (if (misfits > 0) Map("misfits" -> misfits) else Map.empty[String, Long])
    Manifest(
      lines = lines,
      rawBytes = rawBytes,
      tableRows = tableRows.toMap ++ derived,
      distinctTableRows = distinctRows.toMap ++ derived,
      misfits = misfits,
      distinctMessageIds = spec.events.toLong,
      distinctTrackIds = trackIds,
      unknownIds = unknownIds,
      userWinners = winners.iterator.map { case (u, (_, m)) => u -> m }.toMap)
  }
}
