package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

/** Seeded transaction generator with the reference distributions of
  * FIXTURES.md §1, kept in the benchmark's own files so that no change to
  * the program's generators can change a workload's inputs.
  *
  * A row is a pure function of (seed, id); each landed file owns a
  * distinct id range. Rows come back both as a JSON line (what lands in the
  * drop directory) and as a small model record the checks count from.
  */
object Gen {
  final case class Row(id: Long, date: String, fields: Map[String, String], json: String)

  val EndDay: LocalDate = LocalDate.of(2026, 1, 30)
  // always with seconds: ISO "…T13:45Z" (zero seconds dropped) does not
  // parse under the JSON reader's default timestamp pattern
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  val Days = 30

  private val categories = Seq( // (name, weight, priceLo, priceHi)
    ("electronics", 0.20, 29.99, 2499.99), ("clothing", 0.18, 9.99, 299.99),
    ("grocery", 0.22, 1.99, 89.99), ("home_garden", 0.10, 14.99, 899.99),
    ("sports", 0.08, 12.99, 499.99), ("beauty", 0.07, 4.99, 149.99),
    ("automotive", 0.04, 19.99, 1299.99), ("books", 0.05, 5.99, 79.99),
    ("toys", 0.03, 7.99, 199.99), ("pharmacy", 0.03, 2.99, 99.99))
  private val subCats = Map(
    "electronics" -> Seq("phones", "laptops", "audio", "cameras", "wearables"),
    "clothing" -> Seq("mens", "womens", "kids", "shoes", "accessories"),
    "grocery" -> Seq("produce", "dairy", "snacks", "beverages", "frozen", "bakery"),
    "home_garden" -> Seq("furniture", "kitchen", "garden", "decor", "tools"),
    "sports" -> Seq("fitness", "outdoor", "team_sports", "cycling", "swimming"),
    "beauty" -> Seq("skincare", "makeup", "haircare", "fragrance", "wellness"),
    "automotive" -> Seq("parts", "accessories", "tools", "care", "electronics"),
    "books" -> Seq("fiction", "nonfiction", "academic", "children", "comics"),
    "toys" -> Seq("educational", "action", "dolls", "games", "outdoor"),
    "pharmacy" -> Seq("otc", "vitamins", "personal_care", "first_aid", "baby", "devices"))
  private val regions = Seq( // (region, weight, (city, state) pairs)
    ("north", 0.22, Seq("Delhi" -> "DL", "Chandigarh" -> "CH", "Lucknow" -> "UP", "Jaipur" -> "RJ")),
    ("south", 0.25, Seq("Bangalore" -> "KA", "Chennai" -> "TN", "Hyderabad" -> "TG", "Kochi" -> "KL")),
    ("east", 0.12, Seq("Kolkata" -> "WB", "Bhubaneswar" -> "OD", "Patna" -> "BR", "Guwahati" -> "AS")),
    ("west", 0.28, Seq("Mumbai" -> "MH", "Pune" -> "MH", "Ahmedabad" -> "GJ", "Goa" -> "GA")),
    ("central", 0.08, Seq("Nagpur" -> "MH", "Bhopal" -> "MP", "Indore" -> "MP", "Raipur" -> "CG")),
    ("northeast", 0.05, Seq("Shillong" -> "ML", "Imphal" -> "MN", "Agartala" -> "TR", "Aizawl" -> "MZ")))
  private val payments = Seq(
    "credit_card" -> 0.30, "debit_card" -> 0.20, "upi" -> 0.25, "wallet" -> 0.10,
    "bank_transfer" -> 0.05, "cod" -> 0.08, "gift_card" -> 0.02)
  private val channels = Seq(
    "pos_in_store" -> 0.25, "web" -> 0.20, "mobile_app" -> 0.35,
    "marketplace" -> 0.15, "call_center" -> 0.05)
  private val tiers = Seq("bronze" -> 0.50, "silver" -> 0.30, "gold" -> 0.15, "platinum" -> 0.05)
  private val networks = Seq(
    "visa" -> 0.35, "mastercard" -> 0.30, "amex" -> 0.15, "rupay" -> 0.15, "discover" -> 0.05)
  private val statuses = Seq(
    "completed" -> 0.92, "pending" -> 0.04, "failed" -> 0.02,
    "refunded" -> 0.015, "chargeback" -> 0.005)
  private val devices = Seq("android" -> 0.45, "ios" -> 0.30, "desktop" -> 0.20, "tablet" -> 0.05)

  /** Columns the batch requests may filter on by equality. */
  val FilterColumns: Seq[String] =
    Seq("category", "region", "payment_method", "channel", "customer_tier", "transaction_status")

  def pick[A](weighted: Seq[(A, Double)], u: Double): A = {
    var acc = 0.0
    weighted.foreach { case (a, w) => acc += w; if (u < acc) return a }
    weighted.last._1
  }

  /** Values a filter column takes, most frequent first. */
  def valuesOf(column: String): Seq[String] = column match {
    case "category" => categories.sortBy(-_._2).map(_._1)
    case "region" => regions.sortBy(-_._2).map(_._1)
    case "payment_method" => payments.sortBy(-_._2).map(_._1)
    case "channel" => channels.sortBy(-_._2).map(_._1)
    case "customer_tier" => tiers.sortBy(-_._2).map(_._1)
    case "transaction_status" => statuses.sortBy(-_._2).map(_._1)
  }

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0
  private def q(s: String) = "\"" + s + "\""

  /** Row `id`; `liveDay` pins the event date (the stream lands current
    * events), otherwise it is uniform over the `Days` ending `EndDay`. */
  def row(seed: Long, id: Long, liveDay: Option[LocalDate] = None): Row = {
    val rng = new java.util.Random(seed * 0x2545F4914F6CDD1DL ^ (id * 0x9E3779B97F4A7C15L))
    val (cat, _, lo, hi) = pick(categories.map(c => c -> c._2), rng.nextDouble())
    val cust = rng.nextInt(5000)
    val tier = pick(tiers, rng.nextDouble())
    val preferred = channels((cust * 7 + 3) % channels.size)._1
    val channel = if (rng.nextDouble() < 0.70) preferred else pick(channels, rng.nextDouble())
    val pos = channel == "pos_in_store"
    val payment = pick(payments, rng.nextDouble())
    val network =
      if (payment == "credit_card" || payment == "debit_card") Some(pick(networks, rng.nextDouble()))
      else None
    val qty = rng.nextDouble() match {
      case u if u < 0.70 => 1
      case u if u < 0.90 => 2
      case _ => 3 + rng.nextInt(3)
    }
    val price = r2(lo + rng.nextDouble() * (hi - lo))
    val disc = r2(rng.nextDouble() match {
      case u if u < 0.60 => 0.0
      case u if u < 0.90 => 5.0 + rng.nextDouble() * 10.0
      case _ => 20.0 + rng.nextDouble() * 30.0
    })
    val total = r2(qty * price * (1 - disc / 100.0))
    val (region, _, cities) = pick(regions.map(r => r -> r._2), rng.nextDouble())
    val (city, state) = cities(rng.nextInt(cities.size))
    val day = liveDay.getOrElse(EndDay.minusDays(rng.nextInt(Days).toLong))
    val hour = if (rng.nextDouble() < 0.80) 8 + rng.nextInt(14) else rng.nextInt(24)
    val ts = LocalDateTime.of(day.getYear, day.getMonthValue, day.getDayOfMonth,
      hour, rng.nextInt(60), rng.nextInt(60))
    val fraud = rng.nextDouble() < 0.02
    val score = if (fraud) 0.7 + rng.nextDouble() * 0.3 else rng.nextDouble() * 0.15
    val status = pick(statuses, rng.nextDouble())
    val sub = subCats(cat)
    val txnId = f"txn-$id%010d"
    val custId = f"CUST-$cust%08d"
    val prodNo = rng.nextInt(500)
    val fields = Map(
      "category" -> cat, "region" -> region, "payment_method" -> payment,
      "channel" -> channel, "customer_tier" -> tier, "transaction_status" -> status)
    val b = new StringBuilder(640)
    def kv(k: String, v: String): Unit = { if (b.length > 1) b.append(','); b.append(q(k)).append(':').append(v) }
    b.append('{')
    kv("transaction_id", q(txnId))
    kv("event_timestamp", q(ts.format(TsFormat)))
    kv("customer_id", q(custId))
    kv("customer_tier", q(tier))
    kv("product_id", q(f"SKU-${cat.take(3).toUpperCase}-$prodNo%05d"))
    kv("product_name", q(s"brand_${cat}_${prodNo % 6} ${sub(prodNo % sub.size)} #$prodNo"))
    kv("category", q(cat))
    kv("sub_category", q(sub(prodNo % sub.size)))
    kv("brand", q(s"brand_${cat}_${prodNo % 6}"))
    kv("quantity", qty.toString)
    kv("unit_price", price.toString)
    kv("discount_percent", disc.toString)
    kv("total_amount", total.toString)
    kv("tax_amount", r2(total * 0.09).toString)
    kv("currency", q("USD"))
    kv("payment_method", q(payment))
    network.foreach(n => kv("card_network", q(n)))
    kv("transaction_status", q(status))
    kv("channel", q(channel))
    if (pos) kv("store_id", q(f"STORE-${city.take(3).toUpperCase}-${rng.nextInt(50)}%03d"))
    kv("region", q(region))
    kv("city", q(city))
    kv("state", q(state))
    kv("postal_code", q(f"${100000 + rng.nextInt(900000)}%06d"))
    if (!pos) {
      kv("device_type", q(pick(devices, rng.nextDouble())))
      kv("session_id", q(f"sess-${rng.nextLong() & 0xFFFFFFFFFFFFL}%012x"))
    }
    kv("ip_address", q(s"${1 + rng.nextInt(223)}.${rng.nextInt(256)}.xxx.xxx"))
    kv("is_fraudulent", fraud.toString)
    kv("fraud_score", (math.round(score * 10000.0) / 10000.0).toString)
    b.append('}')
    Row(id, day.toString, fields, b.toString)
  }

  /** Rows `[from, from + n)`. */
  def rows(seed: Long, from: Long, n: Int, liveDay: Option[LocalDate] = None): IndexedSeq[Row] =
    (0 until n).map(i => row(seed, from + i, liveDay))
}
