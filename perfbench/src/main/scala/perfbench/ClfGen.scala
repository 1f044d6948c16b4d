package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom

/** What the generator wrote into one day file, counted from the tuples it
  * wrote — never from the engine's parser or aggregates.
  *
  * `perUser` is the expected `user_requests` table: request count per
  * user id, with `None` for the NULL-user group (lines whose user is `-`
  * count one each; malformed lines parse to all-NULL rows and add the
  * group with nothing counted). */
final case class DayTruth(
    date: String,
    lines: Long,
    malformed: Long,
    users: Long,
    status200: Long,
    bytes: Long,
    perUser: Map[Option[Long], Long])

/** Seeded Apache combined-log-format day files.
  *
  * Day `i` of seed `s` is a pure function of `(s, i, lines, malformed)`;
  * the first day is 2024-01-01. With `malformed`, about 1% of lines break
  * the CLF grammar in one of three ways (without it, those lines are
  * written valid); 3% carry the `-` user, user ids are skewed towards small
  * values, and 72% of requests return 200. Files are cached on disk by
  * seed; a cached day is read back with its recorded truth. */
object ClfGen {
  val firstDay: LocalDate = LocalDate.of(2024, 1, 1)
  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val paths = Array("/", "/index.html", "/api/v1/items", "/api/v1/cart",
    "/img/logo.png", "/search", "/account/settings", "/static/app.js")
  private val agents = Array(
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Gecko/20100101 Firefox/128.0",
    "curl/8.0.1", "python-requests/2.32.3", "Googlebot/2.1",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X)")
  private val statuses = Array(200, 304, 404, 302, 500)
  private val statusCdf = Array(72, 82, 90, 96, 100)
  val userPool = 5000

  def date(index: Int): String = firstDay.plusDays(index.toLong).toString

  /** Generate (or read back from `cacheDir`) day `index`; returns the day
    * file's path and its truth. */
  def day(cacheDir: Path, seed: Long, index: Int, lines: Int,
          malformed: Boolean): (Path, DayTruth) = {
    val d = date(index)
    val dir = cacheDir.resolve(s"seed-$seed")
      .resolve(s"lines-$lines" + (if (malformed) "" else "-valid"))
    val file = dir.resolve(s"$d.log")
    val truthFile = dir.resolve(s"$d.truth")
    if (Files.exists(truthFile)) return (file, readTruth(truthFile))
    Files.createDirectories(dir)
    val (text, truth) = render(seed, index, lines, malformed)
    val tmp = dir.resolve(s".$d.log.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING)
    val ttmp = dir.resolve(s".$d.truth.tmp")
    Files.write(ttmp, writeTruth(truth).getBytes(UTF_8))
    Files.move(ttmp, truthFile, StandardCopyOption.REPLACE_EXISTING)
    (file, truth)
  }

  private def render(seed: Long, index: Int, lines: Int,
                     withMalformed: Boolean): (String, DayTruth) = {
    val rnd = new SplittableRandom(seed * 1000003L + index)
    val day = firstDay.plusDays(index.toLong)
    val dd = f"${day.getDayOfMonth}%02d/${months(day.getMonthValue - 1)}/${day.getYear}"
    val sb = new java.lang.StringBuilder(lines * 190)
    val perUser = scala.collection.mutable.HashMap[Option[Long], Long]()
    var malformed, status200 = 0L
    for (n <- 0 until lines) {
      val ip = s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
      val user: Option[Long] =
        if (rnd.nextInt(100) < 3) None
        else Some(1L + (userPool * math.pow(rnd.nextDouble(), 2.0)).toLong)
      val sec = rnd.nextInt(86400)
      val ts = f"$dd:${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d +0000"
      val m = rnd.nextInt(100)
      val method = if (m < 80) "GET" else if (m < 95) "POST" else "HEAD"
      val res = paths(rnd.nextInt(paths.length)) +
        (if (rnd.nextBoolean()) s"?id=${rnd.nextInt(10000)}" else "")
      val proto = if (rnd.nextInt(10) < 8) "HTTP/1.1" else "HTTP/1.0"
      val sp = rnd.nextInt(100)
      val status = statuses(statusCdf.indexWhere(sp < _))
      val size = if (rnd.nextInt(20) == 0) "-" else rnd.nextInt(50000).toString
      val ref = if (rnd.nextInt(10) < 4) "-" else s"https://example.com/p/${rnd.nextInt(500)}"
      val agent = agents(rnd.nextInt(agents.length))
      val good = s"$ip - ${user.fold("-")(_.toString)} [$ts] \"$method $res $proto\" " +
        s"$status $size \"$ref\" \"$agent\""
      if (rnd.nextInt(100) == 0 && withMalformed) {
        malformed += 1
        sb.append(rnd.nextInt(3) match {
          case 0 => s"this line is not a valid log record $n"
          case 1 => good.replace("]", "")          // unterminated timestamp
          case _ => good.substring(0, good.indexOf("\" ") + 1) // no status onwards
        })
      } else {
        sb.append(good)
        perUser(user) = perUser.getOrElse(user, 0L) + 1
        if (status == 200) status200 += 1
      }
      sb.append('\n')
    }
    if (malformed > 0 && !perUser.contains(None)) perUser(None) = 0L
    val text = sb.toString
    val truth = DayTruth(day.toString, lines, malformed,
      perUser.keys.count(_.isDefined).toLong, status200,
      text.getBytes(UTF_8).length.toLong, perUser.toMap)
    (text, truth)
  }

  private def key(u: Option[Long]): String = u.fold("null")(_.toString)

  private def writeTruth(t: DayTruth): String = {
    val head = s"date ${t.date}\nlines ${t.lines}\nmalformed ${t.malformed}\n" +
      s"users ${t.users}\nstatus200 ${t.status200}\nbytes ${t.bytes}\n"
    head + t.perUser.toSeq.sortBy(p => key(p._1))
      .map { case (u, c) => s"user ${key(u)} $c\n" }.mkString
  }

  private def readTruth(p: Path): DayTruth = {
    val kv = scala.collection.mutable.HashMap[String, String]()
    val per = scala.collection.mutable.HashMap[Option[Long], Long]()
    Files.readAllLines(p, UTF_8).forEach { l =>
      l.split(' ') match {
        case Array("user", u, c) =>
          per(if (u == "null") None else Some(u.toLong)) = c.toLong
        case Array(k, v) => kv(k) = v
        case _ => sys.error(s"bad truth line in $p: $l")
      }
    }
    DayTruth(kv("date"), kv("lines").toLong, kv("malformed").toLong,
      kv("users").toLong, kv("status200").toLong, kv("bytes").toLong, per.toMap)
  }

  /** The fixed audit inbox: five valid lines, one that breaks the grammar
    * and two that match it but carry the parser's control-char field
    * separators. `parse` turns all three bad lines into all-NULL rows, so
    * a correct reject count is 3. Seed-independent by design. */
  val auditLines: Seq[String] = {
    def line(i: Int, res: String, agent: String) =
      s"10.0.0.$i - ${1000 + i} [13/Nov/2015:11:45:4$i +0000] " +
        s"\"GET $res HTTP/1.1\" 200 ${100 * i} \"-\" \"$agent\""
    (1 to 5).map(i => line(i, s"/page/$i", "curl/8.0.1")) ++ Seq(
      "this line is not a valid log record",
      line(6, "/a\u0001b", "curl/8.0.1"),
      line(7, "/c", "agent\u0002x"))
  }
  val auditBadRows = 3L
}
