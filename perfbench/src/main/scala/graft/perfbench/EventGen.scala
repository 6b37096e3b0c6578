package graft.perfbench

import java.time.Instant
import java.util.{Locale, SplittableRandom}

/** One generated event: what is published to the broker, plus the
  * flattened leaf values the pipeline is expected to store for it. */
final case class GenEvent(id: Long, eventType: String, props: String,
                          leaves: Map[String, Any])

/** The seeded event generator shared by both ingest workloads. Event `i`
  * is a pure function of (seed, i) and the workload's shape, so any
  * sample can be regenerated to check what the pipeline stored. */
object EventGen {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed ^ salt) + i))

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def fmt2(d: Double): String = "%.2f".formatLocal(Locale.ROOT, d)

  /** A fixed epoch for the date leaves, so their values depend only on
    * the seed, never on when the run happens. */
  private val DateBase = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond

  private val IsoMillis = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  private def isoMillis(r: SplittableRandom): (String, Instant) = {
    val t = Instant.ofEpochSecond(DateBase + r.nextLong(300L * 86400), r.nextInt(1000) * 1000000L)
    (IsoMillis.format(t), t)
  }

  /** `ingest_wide`: a handful of types, all with one stable, wide,
    * nested `props` shape (records, arrays, ISO dates) that flattens to
    * [[WideLeaves]] columns. */
  object Wide {
    val Types: Vector[String] =
      Vector("page_view", "click", "add_to_cart", "purchase", "search", "signup")
    private val Os = Vector("linux", "macos", "windows", "android", "ios")
    private val Countries = Vector("DE", "FR", "US", "BR", "JP", "IN", "NG", "AU")

    def event(seed: Long, i: Long): GenEvent = {
      val r = rng(seed, 0x77696465L, i)
      val tpe = Types(r.nextInt(Types.size))
      val userId = 1L + r.nextLong(1000000L)
      val session = java.lang.Long.toHexString(r.nextLong() & 0xffffffffffL)
      val amount = fmt2(1 + r.nextDouble() * 999)
      val mobile = r.nextBoolean()
      val (created, createdAt) = isoMillis(r)
      val page = r.nextInt(5000)
      val host = r.nextInt(300)
      val os = Os(r.nextInt(Os.size))
      val ver = s"v${r.nextInt(20)}.${r.nextInt(10)}"
      val (w, h) = (320L + r.nextInt(3500), 240L + r.nextInt(2000))
      val country = Countries(r.nextInt(Countries.size))
      val city = r.nextInt(900)
      val lat = "%.4f".formatLocal(Locale.ROOT, -60 + r.nextDouble() * 120)
      val lon = "%.4f".formatLocal(Locale.ROOT, -170 + r.nextDouble() * 340)
      val tags = Vector.fill(3)(s"tag${r.nextInt(40)}")
      val scores = Vector.fill(3)(fmt2(r.nextDouble() * 10))
      val items = Vector.fill(2)((s"sku${r.nextInt(20000)}", 1L + r.nextInt(9),
        fmt2(0.5 + r.nextDouble() * 200)))
      val shipDay = java.time.LocalDate.ofEpochDay(DateBase / 86400 + r.nextInt(300))
      val campaign = r.nextInt(120).toLong
      val props =
        s"""{"userId":$userId,"sessionId":"s$session","amount":$amount,"isMobile":$mobile,""" +
          s""""createdAt":"$created","page":{"url":"/p/$page","title":"Page $page",""" +
          s""""referrer":{"host":"h$host.example","path":"/r/$host"}},""" +
          s""""device":{"os":"$os","version":"$ver","screen":{"w":$w,"h":$h}},""" +
          s""""geo":{"country":"$country","city":"c$city","lat":$lat,"lon":$lon},""" +
          s""""tags":[${tags.map(quote).mkString(",")}],"scores":[${scores.mkString(",")}],""" +
          s""""items":[${items.map { case (s, q, p) =>
            s"""{"sku":"$s","qty":$q,"price":$p}""" }.mkString(",")}],""" +
          s""""shippedOn":"$shipDay","campaign":{"id":$campaign,"name":"camp$campaign"}}"""
      val leaves = Map[String, Any](
        "user_id" -> userId, "session_id" -> s"s$session", "amount" -> amount.toDouble,
        "is_mobile" -> mobile, "created_at" -> createdAt,
        "page_url" -> s"/p/$page", "page_title" -> s"Page $page",
        "page_referrer_host" -> s"h$host.example", "page_referrer_path" -> s"/r/$host",
        "device_os" -> os, "device_version" -> ver,
        "device_screen_w" -> w, "device_screen_h" -> h,
        "geo_country" -> country, "geo_city" -> s"c$city",
        "geo_lat" -> lat.toDouble, "geo_lon" -> lon.toDouble,
        "shipped_on" -> shipDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant,
        "campaign_id" -> campaign, "campaign_name" -> s"camp$campaign") ++
        tags.indices.map(k => s"tags_$k" -> tags(k)) ++
        scores.indices.map(k => s"scores_$k" -> scores(k).toDouble) ++
        items.indices.flatMap { k =>
          val (s, q, p) = items(k)
          Seq(s"items_${k}_sku" -> s, s"items_${k}_qty" -> q, s"items_${k}_price" -> p.toDouble)
        }
      GenEvent(i, tpe, props, leaves)
    }

    /** Every flattened props column and its Spark type name. */
    val WideLeaves: Map[String, String] = {
      val e = event(0L, 0L).leaves
      e.map { case (k, v) => k -> typeName(v) }
    }
  }

  def typeName(v: Any): String = v match {
    case _: Long => "bigint"
    case _: Double => "double"
    case _: Boolean => "boolean"
    case _: Instant => "timestamp"
    case _ => "string"
  }

  /** `ingest_many_types`: Zipf-skewed types with small flat props, and
    * seeded schema drift. Every type carries the shared keys and its own
    * `<type>_n`; each type gains `<type>_x` at a seeded point of the run,
    * and exactly one type ([[widenType]]) turns `<type>_n` from a long
    * into a string once, also at a seeded point. */
  final class Many(seed: Long, val total: Long, val numTypes: Int = 36) {
    val types: Vector[String] = Vector.tabulate(numTypes)(k => f"t$k%02d")
    private val cdf: Array[Double] = {
      val w = Array.tabulate(numTypes)(k => 1.0 / math.pow(k + 1, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    private val plan = rng(seed, 0x706c616eL, 0L)
    /** Event index from which each type emits its added key. */
    val gainAt: Vector[Long] =
      Vector.fill(numTypes)((total * (0.2 + 0.6 * plan.nextDouble())).toLong)
    /** The one type whose `<type>_n` widens: a frequent one, so the
      * change reaches its table in the run. It widens mid-run: the
      * rewrite's cost grows with the rows stored before it. */
    val widenType: String = types(1 + plan.nextInt(3))
    val widenAt: Long = total / 2

    def typeOf(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val k = java.util.Arrays.binarySearch(cdf, u)
      math.min(numTypes - 1, if (k >= 0) k else -k - 1)
    }

    def event(i: Long): GenEvent = {
      val r = rng(seed, 0x6d616e79L, i)
      val k = typeOf(r)
      val tpe = types(k)
      val userId = 1L + r.nextLong(100000L)
      val label = s"l${r.nextInt(50)}"
      val ratio = fmt2(r.nextDouble() * 100)
      val (at, atI) = isoMillis(r)
      val n = r.nextLong(1000000L)
      val widened = tpe == widenType && i >= widenAt
      val nJson = if (widened) quote(s"s$n") else n.toString
      val gained = i >= gainAt(k)
      val x = r.nextLong(1000L)
      val props =
        s"""{"user_id":$userId,"label":"$label","ratio":$ratio,"at":"$at","${tpe}_n":$nJson""" +
          (if (gained) s""","${tpe}_x":$x}""" else "}")
      val leaves = Map[String, Any]("user_id" -> userId, "label" -> label,
        "ratio" -> ratio.toDouble, "at" -> atI,
        s"${tpe}_n" -> (if (widened) s"s$n" else n)) ++
        (if (gained) Map(s"${tpe}_x" -> x) else Map.empty)
      GenEvent(i, tpe, props, leaves)
    }
  }
}
