package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Locale
import scala.util.Random

/** Seeded FreshKart input at `scale` times the committed fixture volume.
  *
  * Same files and shapes as `graft.freshkart.FixtureGen` (31 daily
  * multiLine JSON arrays, `customers.csv`, `refunds.csv`) and the same trap
  * mix, with every count multiplied by `scale`:
  *  - duplicate order records, later the same day, sometimes fewer items;
  *  - negative unit prices (the rejects split);
  *  - unknown customer ids (dropped by the active join);
  *  - date-only `created_at` values (the two-format parse);
  *  - garbage refund amounts and refunds of orders that do not exist.
  *
  * [[generate]] counts each trap as it plants it and fails if any is
  * missing, so a seed can never yield an input that skips a code path.
  */
object FreshKartGen {

  final case class Stats(
      orderRecords: Long,
      duplicateRecords: Long,
      negativePrices: Long,
      unknownCustomers: Long,
      dateOnly: Long,
      garbageRefunds: Long,
      orphanRefunds: Long,
      customers: Long,
      refunds: Long,
      bytes: Long)

  private def f2(x: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(x))

  def generate(outDir: Path, seed: Long, scale: Int): Stats = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    Files.createDirectories(outDir)
    val rnd = new Random(seed)
    val nCustomers = 800 * scale
    var bytes = 0L
    def write(name: String, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      Files.write(outDir.resolve(name), b)
      bytes += b.length
    }

    val cities = Array("Nice", "Marseille", "Paris", "Lille", "Lyon", "Toulouse", "Bordeaux", "Nantes")
    val channels = Array("web", "mobile", "store")
    val statuses = Array("paid", "paid", "paid", "paid", "pending", "failed", "refunded")
    val reasons = Array("delay", "item_issue", "gesture", "coupon")
    val names = Array("Marie", "Jean", "Luc", "Sophie", "Paul", "Julie", "Hugo", "Emma", "Louis", "Alice")
    val dirtyTrue = Array("true", "1", "yes", "y", "t", "TRUE", "True", "YES")
    val dirtyFalse = Array("false", "0", "no", "FALSE", "0.5", "2", "oui", "")
    def pick[A](xs: Array[A]): A = xs(rnd.nextInt(xs.length))

    val cust = new StringBuilder("customer_id,first_name,last_name,email,city,is_active\n")
    for (i <- 1 to nCustomers) {
      val fn = pick(names)
      val ln = pick(names).reverse
      val act = if (rnd.nextDouble() < 0.66) pick(dirtyTrue) else pick(dirtyFalse)
      cust ++= f"C$i%07d,$fn,$ln,${fn.toLowerCase(Locale.ROOT)}$i@example.com,${pick(cities)},$act\n"
    }
    write("customers.csv", cust.toString)

    var records, dups, negatives, unknown, dateOnly = 0L
    val orderIds = collection.mutable.ArrayBuffer.empty[String]
    for (day <- 1 to 31) {
      val date = f"2025-03-$day%02d"
      val recs = collection.mutable.ArrayBuffer.empty[String]
      val dayRecords = (1 to 100 * scale).map { seq =>
        val orderId = f"O202503$day%02d$seq%07d"
        orderIds += orderId
        val custId =
          if (rnd.nextDouble() < 0.03) { unknown += 1; f"C${nCustomers + 1 + rnd.nextInt(20)}%07d" }
          else f"C${1 + rnd.nextInt(nCustomers)}%07d"
        val createdAt =
          if (rnd.nextDouble() < 0.10) { dateOnly += 1; date }
          else f"$date ${6 + rnd.nextInt(16)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
        val status = pick(statuses)
        val items = (1 to 1 + rnd.nextInt(4)).map { _ =>
          val price =
            if (rnd.nextDouble() < 0.02) { negatives += 1; -(1 + rnd.nextInt(5000)) / 100.0 }
            else (100 + rnd.nextInt(9900)) / 100.0
          f"""{"sku": "SKU-${1 + rnd.nextInt(300)}%04d", "qty": ${1 + rnd.nextInt(5)}, "unit_price": ${f2(price)}}"""
        }
        (orderId, custId, pick(channels), createdAt, status, items)
      }
      def record(oid: String, cid: String, ch: String, ts: String, st: String, items: Seq[String]): String =
        s"""  {"order_id": "$oid", "customer_id": "$cid", "channel": "$ch", "created_at": "$ts", "payment_status": "$st", "items": [${items.mkString(", ")}]}"""
      dayRecords.foreach { case (oid, cid, ch, ts, st, items) => recs += record(oid, cid, ch, ts, st, items) }
      // A duplicate re-emits an order with a strictly later created_at, so
      // the dedup must keep the first record's first item line.
      (1 to 3 * scale).foreach { _ =>
        val (oid, cid, ch, ts, st, items) = dayRecords(rnd.nextInt(dayRecords.size))
        val later = if (ts.length == 10) s"$ts 23:5${rnd.nextInt(10)}:00" else ts + ".5"
        val dupItems = if (rnd.nextBoolean()) items else items.take(1 + rnd.nextInt(items.size))
        recs += record(oid, cid, ch, later, st, dupItems)
        dups += 1
      }
      records += recs.size
      write(s"orders_$date.json", recs.mkString("[\n", ",\n", "\n]\n"))
    }

    var garbage, orphans = 0L
    val ref = new StringBuilder("refund_id,order_id,amount,reason,created_at\n")
    for (i <- 1 to 972 * scale) {
      val orderId =
        if (rnd.nextDouble() < 0.02) { orphans += 1; f"O20250399${rnd.nextInt(10000000)}%07d" }
        else orderIds(rnd.nextInt(orderIds.size))
      val amount =
        if (rnd.nextDouble() < 0.02) { garbage += 1; pick(Array("n/a", "", "abc", "12.50.1")) }
        else f2(-(100 + rnd.nextInt(1900)) / 100.0)
      ref ++= f"R$i%08d,$orderId,$amount,${pick(reasons)},2025-03-${1 + rnd.nextInt(31)}%02d " +
        f"${8 + rnd.nextInt(12)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d\n"
    }
    write("refunds.csv", ref.toString)

    val stats = Stats(records, dups, negatives, unknown, dateOnly, garbage, orphans,
      nCustomers, 972L * scale, bytes)
    val missing = Seq(
      "duplicate orders" -> dups, "negative prices" -> negatives,
      "unknown customers" -> unknown, "date-only timestamps" -> dateOnly,
      "garbage refund amounts" -> garbage, "orphan refunds" -> orphans).filter(_._2 == 0)
    require(missing.isEmpty, s"seed $seed scale $scale planted no ${missing.map(_._1).mkString(", ")}")
    stats
  }
}
