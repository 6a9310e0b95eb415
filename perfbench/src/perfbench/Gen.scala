package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generator. Every input a workload hands to graft comes from
  * here, and the same seed gives byte-identical inputs: the generator draws
  * only from `SplittableRandom(seed)` streams split per purpose, never from
  * the clock or a hash-ordered collection.
  *
  * The shapes follow the TPC-H-style star schema of the engine's test
  * corpus (same table and column names), so the marts run unchanged:
  * nation, customer, supplier, part, orders, lineitem, plus a `documents`
  * table for curation. Lineitem keeps the corpus's non-unique
  * `(l_orderkey, l_linenumber)` pairs and carries a generated unique
  * `l_lineid` that ingestion keys on.
  */
object Gen {

  /** Table sizes of one generated warehouse. */
  final case class Scale(customers: Int, suppliers: Int, parts: Int, orders: Int,
                         insertsPerDay: Int, deletesPerDay: Int, updatesPerDay: Int)

  final case class Order(key: Int, cust: Int, status: String, total: Double,
                         date: LocalDate, priority: String) {
    def csv: String = f"$key,$cust,$status,$total%.2f,$date,$priority"
  }

  final case class Line(id: Long, order: Long, part: Long, supp: Long, lineNo: Int,
                        qty: Double, price: Double, discount: Double, tax: Double,
                        returnFlag: String, lineStatus: String, shipDate: LocalDate) {
    def text: String =
      f"$id|$order|$part|$supp|$lineNo|$qty%.1f|$price%.2f|$discount%.2f|$tax%.2f|$returnFlag|$lineStatus|$shipDate"
  }

  /** A header drift planted in one CSV extract: upper-case column names
    * and a trailing `column`. */
  final case class Drift(entity: String, column: String)

  /** One load day: full extracts plus the changes planted against the
    * previous day, and the header drift planted in it, if any. */
  final case class Day(index: Int, date: LocalDate, orders: Vector[Order],
                       lines: Vector[Line], inserted: Vector[Order],
                       deleted: Vector[Order], updated: Vector[(Order, Order)],
                       drift: Option[Drift]) {
    def ordersCsv: String = Gen.csv(OrdersHeader, orders.map(_.csv), drift.filter(_.entity == "orders"))
  }

  final case class Warehouse(nation: Vector[(Int, String, Int)],
                             customerRows: Vector[String], supplierJson: String, partJson: String,
                             days: Vector[Day]) {
    def customerCsv(d: Day): String =
      Gen.csv(CustomerHeader, customerRows, d.drift.filter(_.entity == "customer"))

    /** Digest over every generated input, text and rows alike. */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def add(s: String): Unit = md.update(s.getBytes(UTF_8))
      nation.foreach(n => add(n.toString))
      Seq(supplierJson, partJson).foreach(add)
      days.foreach { d =>
        add(s"${d.index}|${d.date}|${d.drift}")
        add(customerCsv(d))
        add(d.ordersCsv)
        d.lines.foreach(l => add(l.text))
      }
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  val Statuses = Vector("O", "P", "F")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val PartWords = Vector("large", "small", "hot", "cold", "bright", "dark", "ring",
    "bolt", "nut", "gear", "plate", "pipe", "valve", "spring", "wire", "lamp")
  val PartTypes = Vector("LARGE", "ECONOMY", "STANDARD", "PROMO", "MEDIUM", "SMALL")
  val FirstDay: LocalDate = LocalDate.of(2024, 6, 1)

  val OrdersHeader = "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority"
  val CustomerHeader = "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment"
  val DriftDay = 2
  val DriftColumns = Vector("LOYALTY_NOTE", "SOURCE_SYSTEM", "EXTRACT_TS", "REGION_CODE")

  /** A CSV extract; under a drift the header is upper-cased and every row
    * gains a trailing value. */
  def csv(header: String, rows: Vector[String], drift: Option[Drift]): String = {
    val sb = new StringBuilder(drift.fold(header)(d => header.toUpperCase + "," + d.column)).append('\n')
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      sb.append(r)
      if (drift.isDefined) sb.append(",x").append(i % 7)
      sb.append('\n')
    }
    sb.toString
  }

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Base warehouse (day 0) plus `days` day-over-day change sets. The header
    * drift is planted on day 2, the first timed day, in a seeded CSV entity
    * with a seeded trailing column. */
  def warehouse(seed: Long, scale: Scale, days: Int): Warehouse = {
    require(days >= DriftDay, s"need at least $DriftDay load days after the seed day, got $days")
    val root = new SplittableRandom(seed)
    val rDim = root.split(); val rOrd = root.split(); val rDay = root.split()
    val nation = Vector.tabulate(25)(i => (i, s"NATION_$i", i % 5))

    val cust = Vector.tabulate(scale.customers) { i =>
      (i, f"Customer#$i%09d", rDim.nextInt(25), money(rDim, -999, 9999), pick(rDim, Segments))
    }
    val customerRows = cust.map { case (k, n, nk, b, s) => f"$k,$n,$nk,$b%.2f,$s" }

    val supplierJson = Vector.tabulate(scale.suppliers) { i =>
      f"""{"s_suppkey":$i,"s_name":"Supplier#$i%09d","s_nationkey":${rDim.nextInt(25)},"s_acctbal":${money(rDim, -999, 9999)}%.2f}"""
    }.mkString("", "\n", "\n")
    val partJson = Vector.tabulate(scale.parts) { i =>
      val name = s"${pick(rDim, PartWords)} ${pick(rDim, PartWords)}"
      f"""{"p_partkey":$i,"p_name":"$name","p_brand":"Brand#${1 + rDim.nextInt(25)}","p_type":"${pick(rDim, PartTypes)}","p_size":${1 + rDim.nextInt(50)},"p_retailprice":${900 + (i % 1000) / 10.0}%.2f}"""
    }.mkString("", "\n", "\n")

    var nextOrder = 0
    var nextLine = 0L
    def newOrder(r: SplittableRandom): (Order, Vector[Line]) = {
      val key = nextOrder; nextOrder += 1
      val date = FirstDay.minusDays(1 + r.nextInt(2000))
      val n = 1 + r.nextInt(7)
      val lines = Vector.tabulate(n) { j =>
        val qty = (1 + r.nextInt(50)).toDouble
        // ~2% of orders repeat a line number, as the engine's corpus does
        val lineNo = if (j > 0 && r.nextInt(50) == 0) j else j + 1
        val l = Line(nextLine, key, r.nextInt(scale.parts), r.nextInt(scale.suppliers), lineNo,
          qty, money(r, 900, 2000) * qty, (r.nextInt(11)) / 100.0, (r.nextInt(9)) / 100.0,
          pick(r, Vector("A", "N", "R")), pick(r, Vector("O", "F")), date.plusDays(1 + r.nextInt(120)))
        nextLine += 1
        l
      }
      val o = Order(key, r.nextInt(scale.customers), pick(r, Statuses),
        math.round(lines.map(_.price).sum * 100) / 100.0, date, pick(r, Priorities))
      (o, lines)
    }

    // the live state: order key -> (order, its lines), in key order
    val live = scala.collection.mutable.TreeMap.empty[Int, (Order, Vector[Line])]
    (0 until scale.orders).foreach { _ => val (o, ls) = newOrder(rOrd); live(o.key) = (o, ls) }
    def snapshot(index: Int, ins: Vector[Order], del: Vector[Order],
                 upd: Vector[(Order, Order)], drift: Option[Drift]): Day = {
      val vs = live.valuesIterator.toVector
      Day(index, FirstDay.plusDays(index.toLong), vs.map(_._1), vs.flatMap(_._2),
        ins, del, upd, drift)
    }
    val drift = Drift(if (rDay.nextBoolean()) "orders" else "customer", pick(rDay, DriftColumns))
    val day0 = snapshot(0, Vector.empty, Vector.empty, Vector.empty, None)
    val later = (1 to days).map { d =>
      val keys = live.keysIterator.toVector
      val chosen = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (chosen.size < scale.deletesPerDay + scale.updatesPerDay)
        chosen += keys(rDay.nextInt(keys.size))
      val (delKeys, updKeys) = chosen.toVector.splitAt(scale.deletesPerDay)
      val deleted = delKeys.map { k => val o = live(k)._1; live.remove(k); o }
      val updated = updKeys.map { k =>
        val (o, ls) = live(k)
        val others = Priorities.filterNot(_ == o.priority)
        val n = o.copy(priority = pick(rDay, others),
          total = math.round((o.total + 1 + rDay.nextInt(500)) * 100) / 100.0)
        live(k) = (n, ls)
        (o, n)
      }
      val inserted = Vector.fill(scale.insertsPerDay) {
        val (o, ls) = newOrder(rDay); live(o.key) = (o, ls); o
      }
      snapshot(d, inserted, deleted, updated, if (d == DriftDay) Some(drift) else None)
    }
    Warehouse(nation, customerRows, supplierJson, partJson,
      day0 +: later.toVector)
  }

  // ------------------------------------------------------------ requests

  /** One dashboard request: a mart export read through `Serve.records`
    * with a bearer token, or an order-history lookup by customer. */
  sealed trait Request
  final case class ExportRead(keyword: String, date: LocalDate, token: String,
                              valid: Boolean) extends Request
  final case class HistoryLookup(date: LocalDate, custKey: Int) extends Request

  /** `n` requests. Dates favour recent days (geometric over `days` days back
    * from `latest`), customers favour a hot set, so repeated work exists.
    * About 5% of export tokens are expired or forged. `exportShare` of the
    * requests read a mart export; the rest look up order history. */
  def requests(seed: Long, n: Int, latest: LocalDate, days: Int, keywords: Vector[String],
               customers: Int, secret: String, now: Long,
               exportShare: Double = 0.7): Vector[Request] = {
    val r = new SplittableRandom(seed ^ 0x5e12e5L)
    val good = graft.connect.Serve.issueToken(secret, "dashboard", now + 3600)
    val expired = graft.connect.Serve.issueToken(secret, "dashboard", now - 60)
    val forged = graft.connect.Serve.issueToken(secret + "-wrong", "dashboard", now + 3600)
    Vector.fill(n) {
      var back = 0
      while (back < days - 1 && r.nextDouble() < 0.45) back += 1
      val date = latest.minusDays(back.toLong)
      if (r.nextDouble() < exportShare) {
        val bad = r.nextDouble() < 0.05
        val token = if (!bad) good else if (r.nextBoolean()) expired else forged
        ExportRead(pick(r, keywords), date, token, !bad)
      } else {
        // 80% of lookups hit a hot set of 5% of customers
        val hot = math.max(1, customers / 20)
        HistoryLookup(date, if (r.nextDouble() < 0.8) r.nextInt(hot) else r.nextInt(customers))
      }
    }
  }

  /** Open-loop send times: Poisson arrivals at `rate` per second, as
    * nanosecond offsets from the start of the phase. */
  def arrivals(seed: Long, n: Int, rate: Double): Array[Long] = {
    val r = new SplittableRandom(seed ^ 0xa77L)
    val out = new Array[Long](n)
    var t = 0.0
    var i = 0
    while (i < n) {
      t += -math.log(1.0 - r.nextDouble()) / rate
      out(i) = (t * 1e9).toLong
      i += 1
    }
    out
  }

  // -------------------------------------------------------------- corpus

  val Vocab: Vector[String] = Vector("spark", "batch", "stream", "table", "query",
    "join", "scan", "sort", "hash", "group", "filter", "window", "value", "column",
    "row", "part", "order", "line", "customer", "supplier", "data", "vector", "key",
    "fast", "slow", "big", "small", "merge", "agg", "plan", "cache", "shuffle",
    "spill", "index", "token", "model", "train", "eval", "load", "store", "read",
    "write", "the", "a", "of", "and", "to", "in", "is", "for", "on", "with", "as",
    "by", "at", "from", "node", "task", "stage", "job")

  /** Curation corpus with its planted truth. Exact copies re-case and
    * re-space an original (so only normalised text matches); near-duplicates
    * replace one token of a long original. Copies take ids above every
    * original, so the original is always the canonical (minimum) id. */
  final case class Corpus(docs: Vector[(Long, String, String)],
                          exactCopies: Set[Long], nearPairs: Set[(Long, Long)]) {
    def bytes: Long = docs.iterator.map(_._2.length.toLong).sum
  }

  def corpus(seed: Long, originals: Int, exactCopies: Int, nearPairs: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0xc0de5L)
    val base = Vector.tabulate(originals) { i =>
      val len = 20 + r.nextInt(100)
      (i.toLong, Vector.fill(len)(pick(r, Vocab)).mkString(" "), s"src${r.nextInt(8)}")
    }
    var next = originals.toLong
    val exact = Vector.fill(exactCopies) {
      val (_, text, src) = base(r.nextInt(originals))
      val id = next; next += 1
      (id, "  " + text.toUpperCase.replace(" ", "   ") + " ", src)
    }
    // near-duplicate partners only for long originals: one replaced token
    // changes at most 3 of >= 58 three-word shingles, Jaccard >= 0.9
    val long = base.filter(_._2.count(_ == ' ') >= 60)
    val usedNear = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (usedNear.size < math.min(nearPairs, long.size)) usedNear += long(r.nextInt(long.size))._1
    val near = usedNear.toVector.map { orig =>
      val toks = base(orig.toInt)._2.split(' ')
      val at = r.nextInt(toks.length)
      toks(at) = pick(r, Vocab.filterNot(_ == toks(at)))
      val id = next; next += 1
      ((id, toks.mkString(" "), base(orig.toInt)._3), (orig, id))
    }
    Corpus(base ++ exact ++ near.map(_._1), exact.map(_._1).toSet, near.map(_._2).toSet)
  }

  /** Three-word shingle set of a normalised text, for the Jaccard check. */
  def shingles(text: String): Set[String] = {
    val t = text.trim.toLowerCase.split("\\s+")
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  def write(path: Path, text: String): Long = {
    Files.createDirectories(path.getParent)
    val bytes = text.getBytes(UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  /** Independent twin of `graft.functions.TextFunctions.hash60`: the top 60
    * bits of the md5 digest (its first 15 hex digits). */
  def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xff); i += 1 }
    h >>> 4
  }
}
