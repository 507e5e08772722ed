package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments: the same seed gives the same inputs, so a
  * run's reference answers can be rebuilt in the benchmark process. */
object Gen {
  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- etl ---------------------------------------------------------------

  /** One JSONL input line and what a correct flow must make of it. */
  final case class JsonRec(line: String, ok: Boolean, id: Long,
      amountCents: Long, nTags: Int, k: Int)

  private val Countries = Array("DE", "FR", "US", "GB", "ES", "IT", "NL",
    "SE", "PL", "BR", "IN", "JP")
  private val Sources = Array("web", "app", "api")
  private val Tags = Array.tabulate(20)(i => s"t$i")
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz          "

  private def text(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Alphabet.charAt(r.nextInt(Alphabet.length)); i += 1 }
    sb.result()
  }

  /** `n` JSONL records; about 2% are malformed (half cut short, half
    * with an amount that does not parse). */
  def jsonl(seed: Long, n: Int): Array[JsonRec] = {
    val r = new SplittableRandom(seed * 31 + 1)
    val users = new Zipf(5000, 1.1)
    Array.tabulate(n) { i =>
      val cents = r.nextLong(1, 1000000)
      val nTags = r.nextInt(5)
      val k = r.nextInt(100)
      val tags = (0 until nTags).map(_ => "\"" + Tags(r.nextInt(Tags.length)) + "\"")
        .mkString("[", ",", "]")
      val user = f"u${users.sample(r)}%05d"
      val ts = 1700000000000L + i * 37L
      val country = Countries(r.nextInt(Countries.length))
      val src = Sources(r.nextInt(Sources.length))
      val note = text(r, 30 + r.nextInt(30))
      val bad = r.nextDouble() < 0.02
      val amount = if (bad && r.nextBoolean()) s"${cents / 100}.x${cents % 10}"
        else f"${cents / 100}.${cents % 100}%02d"
      val full = s"""{"id":$i,"user":"$user","ts":$ts,"country":"$country",""" +
        s""""tags":$tags,"props":{"k":$k,"src":"$src"},"note":"$note","amount":"$amount"}"""
      val line = if (bad && !amount.contains('x')) full.take(5 + r.nextInt(15)) else full
      JsonRec(line, !bad, i.toLong, cents, nTags, k)
    }
  }

  /** One HL7 v2 message written on one line (segments joined by the
    * two-character escape `\r`), with the facts a correct flow keeps. */
  final case class Hl7Msg(line: String, segments: Int, obx: Int,
      obxMilli: Long)

  def hl7(seed: Long, n: Int): Array[Hl7Msg] = {
    val r = new SplittableRandom(seed * 31 + 2)
    val codes = Array("GLU", "NA", "K", "HGB", "WBC", "CRP")
    Array.tabulate(n) { i =>
      val msh = s"MSH|^~\\&|LAB|HOSP|EHR|HOSP|20240101${"%06d".format(i % 1000000)}||ORU^R01|M$i|P|2.5"
      val pid = s"PID|1||P${r.nextInt(100000)}||${text(r, 8).trim}^${text(r, 6).trim}||19${10 + r.nextInt(90)}0101|F"
      val nObx = 1 + r.nextInt(6)
      var milli = 0L
      val obx = (1 to nObx).map { j =>
        val v = r.nextInt(100000)
        milli += v
        s"OBX|$j|NM|${codes(r.nextInt(codes.length))}^lab||${v / 1000}.${"%03d".format(v % 1000)}|mg/dL|||N"
      }
      val nte = if (r.nextInt(4) == 0) Seq(s"NTE|1||${text(r, 20)}") else Nil
      val segs = Seq(msh, pid) ++ obx ++ nte
      Hl7Msg(segs.mkString("\\r"), segs.size, nObx, milli)
    }
  }

  // ---- lakehouse ---------------------------------------------------------

  final case class Row(key: Long, v: Long, ts: Long, grp: String, payload: String)

  /** Base table: keys 0, 2, 4, ... (odd keys are never used, so every
    * insert lands above the current maximum). */
  def baseTable(seed: Long, n: Int): Array[Row] = {
    val r = new SplittableRandom(seed * 31 + 3)
    Array.tabulate(n)(i => row(r, i * 2L, 0))
  }

  def row(r: SplittableRandom, key: Long, cycle: Int): Row =
    Row(key, r.nextLong(1000000000L), key * 10 + cycle, s"g${r.nextInt(64)}",
      text(r, 24))

  /** One merge cycle's changeset: 80% updates of Zipf-hot (recent) keys,
    * 15% inserts above the current maximum, 5% deletes of uniformly
    * drawn live keys. Returns (upserts, deletes); both key-unique. */
  def changeset(seed: Long, cycle: Int, live: Array[Long], maxKey: Long,
      n: Int, zipf: Zipf): (Array[Row], Array[Long]) = {
    val r = new SplittableRandom(seed * 1000003L + cycle)
    val nUpd = n * 80 / 100; val nIns = n * 15 / 100; val nDel = n - nUpd - nIns
    val upd = scala.collection.mutable.LinkedHashSet.empty[Long]
    var guard = 0
    while (upd.size < nUpd && guard < nUpd * 20) {
      val rank = zipf.sample(r)
      upd += live(live.length - 1 - math.min(rank, live.length - 1))
      guard += 1
    }
    while (upd.size < nUpd) upd += live(r.nextInt(live.length))
    val dels = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (dels.size < nDel) {
      val k = live(r.nextInt(live.length))
      if (!upd.contains(k)) dels += k
    }
    val ins = (1 to nIns).map(j => maxKey + 2L * j)
    ((upd.toSeq ++ ins).map(k => row(r, k, cycle)).toArray, dels.toArray)
  }

  // ---- stream ------------------------------------------------------------

  /** One event of the stream backlog; `file` is the backlog file it is
    * staged in. */
  final case class Event(eventId: Long, userId: Long, tsMs: Long,
      eventType: String, valueCents: Long, file: Int)

  val EventTypes: Array[String] = Array("view", "click", "cart", "buy", "search")
  /** Event time covered by one backlog file. */
  val FileSpanMs: Long = 2L * 3600 * 1000

  /** `n` events over `files` backlog files, with Zipf-skewed users. File
    * f covers its own span of event time, after file f−1's, and holds
    * its events in random order: events are out of order only within a
    * file, so none falls behind a watermark of an hour once the files
    * are read in order. Times are whole seconds, except that the latest
    * event is half a second later, so no session's gap timeout lands
    * exactly on the final watermark. */
  def events(seed: Long, n: Int, files: Int, users: Int): Array[Event] = {
    val r = new SplittableRandom(seed * 31 + 5)
    val zipf = new Zipf(users, 1.1)
    val t0 = 1700000000000L
    val out = Array.tabulate(n) { i =>
      val f = (i.toLong * files / n).toInt
      val ts = t0 + f * FileSpanMs + r.nextLong(FileSpanMs / 1000) * 1000
      Event(i.toLong, zipf.sample(r).toLong, ts,
        EventTypes(r.nextInt(EventTypes.length)), r.nextLong(1, 100000), f)
    }
    val last = out.indices.maxBy(i => (out(i).tsMs, i))
    out(last) = out(last).copy(tsMs = out(last).tsMs + 500)
    out
  }

  // ---- dedup -------------------------------------------------------------

  final case class Doc(id: Long, text: String, cluster: Long)

  private def vocabWord(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb += ('a' + x % 26).toChar; x /= 26 }
    sb.result() + (if (i % 3 == 0) "" else "e")
  }

  /** Near-duplicate of `tokens`: about 5% of tokens replaced, dropped
    * or inserted. */
  private def mutate(r: SplittableRandom, tokens: Array[String],
      vocab: Array[String], zipf: Zipf): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    tokens.foreach { t =>
      val u = r.nextDouble()
      if (u < 0.02) out += vocab(zipf.sample(r))
      else if (u < 0.035) ()
      else if (u < 0.05) { out += t; out += vocab(zipf.sample(r)) }
      else out += t
    }
    if (out.isEmpty) tokens else out.toArray
  }

  /** A corpus of `n` docs (ids from `firstId`) with lognormal lengths and
    * a Zipf vocabulary. `dupShare` of the docs are planted
    * near-duplicates in clusters of 2–8 (`cluster` = the id of the
    * cluster's original, -1 for unclustered docs). With `against`, the
    * planted docs instead copy docs of that corpus (probe batches). */
  def corpus(seed: Long, n: Int, firstId: Long, dupShare: Double,
      against: Array[Doc] = Array.empty): Array[Doc] = {
    val r = new SplittableRandom(seed * 31 + 4 + firstId)
    val vocab = Array.tabulate(20000)(vocabWord)
    val zipf = new Zipf(vocab.length, 1.05)
    def fresh(): Array[String] = {
      val len = math.max(8, math.min(400,
        math.exp(4.0 + 0.5 * gaussian(r)).toInt))
      Array.fill(len)(vocab(zipf.sample(r)))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var id = firstId
    val nDup = (n * dupShare).toInt
    if (against.nonEmpty) {
      while (out.size < nDup) {
        val src = against(r.nextInt(against.length))
        out += Doc(id, mutate(r, src.text.split(" "), vocab, zipf).mkString(" "), src.id)
        id += 1
      }
    } else {
      while (out.size < nDup) {
        val size = math.min(2 + r.nextInt(7), nDup - out.size + 1)
        val base = fresh()
        val origin = id
        out += Doc(id, base.mkString(" "), origin); id += 1
        (1 until size).foreach { _ =>
          out += Doc(id, mutate(r, base, vocab, zipf).mkString(" "), origin)
          id += 1
        }
      }
    }
    while (out.size < n) { out += Doc(id, fresh().mkString(" "), -1L); id += 1 }
    // shuffle so clusters are not stored contiguously
    val arr = out.toArray
    var i = arr.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(1e-12, r.nextDouble()); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
