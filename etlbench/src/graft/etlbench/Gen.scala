package graft.etlbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.Instant

import scala.util.Random

/** One stream document as the generator made it. Channel values are
  * `NaN` where the sample is null (a sensor dropout); an absent channel
  * is `None` and is left out of the document. */
final case class Streams(time: Array[Long], velocity: Array[Double],
                         heartrate: Option[Array[Double]],
                         watts: Option[Array[Double]],
                         cadence: Option[Array[Double]],
                         temp: Option[Array[Double]],
                         latlng: Option[(Array[Double], Array[Double])]) {
  def n: Int = time.length
}

/** Which sensors recorded an activity. */
final case class Sensors(hr: Boolean, power: Boolean, negativePower: Boolean,
                         cadence: Boolean, temp: Boolean, gps: Boolean)

object Sensors {
  /** No power meter, no heart-rate strap, no GPS (indoor), a power
    * meter that reads negative: drawn per activity. The shares are
    * assumptions, not measured from Strava data (see the README's
    * "Assumed traffic mix"). */
  def draw(r: Random): Sensors = {
    val power = r.nextDouble() < 0.45
    Sensors(hr = r.nextDouble() < 0.8, power = power,
      negativePower = power && r.nextDouble() < 0.1, cadence = r.nextDouble() < 0.6,
      temp = r.nextDouble() < 0.7, gps = r.nextDouble() < 0.9)
  }
}

/** `valid`: the document parses and has every required field.
  * `broken`: the line is not JSON at all. Neither: parses, but has no
  * `elapsed_time`, so the cleaning step marks it `_valid = false`. */
final case class Activity(id: Long, user: Int, epoch: Long, elapsed: Long,
                          valid: Boolean, broken: Boolean, history: Boolean,
                          streams: Option[Streams]) {
  def bypass: Boolean = elapsed >= 100000L
  /** Rows the pipeline's dense spine gives this activity: one per second
    * from 0 to the last sample, or the samples themselves on bypass. */
  def denseRows: Long = streams.fold(0L)(s =>
    if (bypass) s.n.toLong else s.time(s.n - 1) + 1)
}

/** A workload's inputs. `history` activities are loaded into the sink
  * before the timed runs (incremental only); the rest are new. */
final case class Dataset(workload: String, seed: Long, nowEpoch: Long,
                         users: Int, activities: IndexedSeq[Activity]) {
  def fresh: IndexedSeq[Activity] = activities.filterNot(_.history)
  def newRows: Long = fresh.count(_.valid).toLong
  def newSamples: Long = fresh.filter(_.valid).map(_.denseRows).sum
  def historyRows: Long = activities.count(a => a.history && a.valid).toLong
  def username(u: Int): String = f"rider$u%05d"
  def athleteId(u: Int): Long = 7000000L + u
}

/** Seeded Strava-shaped input generator. It varies what the pipeline's
  * cost depends on: samples per activity, pauses and recording gaps
  * (dense-spine expansion), absent channels, sensor dropouts, malformed
  * documents, R5 bypass activities, users with distinct watermarks and
  * the number of activity dates (sink partitions). Counts and duration
  * ladders are fixed per workload and only the concrete values follow
  * the seed, so the cost of a workload is steady across seeds. */
object Gen {

  /** 2026-01-01T00:00:00Z: a fixed clock, so runs are reproducible. */
  val Now: Long = 1767225600L
  private val Day = 86400L

  def apply(workload: String, seed: Long, scale: Double): Dataset = {
    val r = new Random(seed)
    def n(k: Int): Int = math.max(1, math.round(k * scale).toInt)
    workload match {
      case "backfill_long" =>
        // 1 Hz rides of 4 to 16 min moving time with stops: the cost of
        // interpolation is quadratic in a ride's length at HEAD and the
        // longest ride is the straggler, so lengths and stops are fixed
        // and the seed draws only where they fall and the values
        val ladder = Seq(4, 8, 12, 16).map(m => math.max(60, (m * 60 * scale).toInt))
        val users = 3
        val days = r.shuffle((1 to 730).toIndexedSeq)
        var id = 0L
        def next(): Long = { id += 1; 9100000000L + id * 7 }
        def on(streams: Option[Streams], valid: Boolean = true) =
          activity(r, next(), r.nextInt(users), days(id.toInt), valid, streams)
        // an indoor trainer ride, a commute without sensors, a ride with
        // a power meter that reads negative, a fully equipped ride
        val kit = Seq(
          Sensors(hr = true, power = true, negativePower = false, cadence = true, temp = false, gps = false),
          Sensors(hr = false, power = false, negativePower = false, cadence = false, temp = true, gps = true),
          Sensors(hr = true, power = true, negativePower = true, cadence = true, temp = true, gps = true),
          Sensors(hr = true, power = true, negativePower = false, cadence = true, temp = true, gps = true))
        val rides = ladder.zip(kit).map { case (secs, k) =>
          on(Some(ride(r, secs, pauses = 1 + secs / 600, pause = 180, Some(k))))
        }
        val odd = Seq(on(None), on(Some(bypassTrack(r, n(400)))),
          on(Some(ride(r, n(300), 0, 0)), valid = false), brokenActivity(next(), r.nextInt(users)))
        Dataset(workload, seed, Now, users, r.shuffle(rides ++ odd).toIndexedSeq)

      case "backfill_short" =>
        // many ~1 minute activities, each on its own date: per-activity
        // and per-partition costs dominate, interpolation is cheap
        val total = n(80)
        val users = n(8)
        val days = r.shuffle((1 to 730).toIndexedSeq)
        // exact shares, shuffled: 1 % broken, 1 % without elapsed_time,
        // 1 % bypass, 10 % manual, the rest ~1 min recordings; assumed,
        // not measured (README, "Assumed traffic mix")
        def share(p: Double) = math.max(1, math.round(total * p).toInt)
        val kinds = r.shuffle(Seq.fill(share(0.01))(0) ++ Seq.fill(share(0.01))(1) ++
          Seq.fill(share(0.01))(2) ++ Seq.fill(share(0.10))(3)).padTo(total, 4)
        val acts = kinds.zipWithIndex.map { case (kind, i) =>
          val id = 9200000000L + i * 13L
          val u = r.nextInt(users)
          def short() = Some(ride(r, 45 + r.nextInt(31), 0, 0))
          kind match {
            case 0 => brokenActivity(id, u)
            case 1 => activity(r, id, u, days(i), valid = false, short())
            case 2 => activity(r, id, u, days(i), valid = true, Some(bypassTrack(r, 60)))
            case 3 => activity(r, id, u, days(i), valid = true, None)
            case _ => activity(r, id, u, days(i), valid = true, short())
          }
        }.toIndexedSeq
        Dataset(workload, seed, Now, users, acts)

      case "incremental" =>
        // a daily sync: each user has a history up to their own
        // watermark, and ~2 % of all activities are past it
        val users = n(40)
        val perUser = math.max(2, math.round(25 * math.min(1.0, scale * 4)).toInt)
        val total = users * perUser
        val fresh = math.max(1, math.round(total * 0.02).toInt)
        val freshUsers = r.shuffle((0 until total).map(_ % users)).take(fresh)
        val cut = (0 until users).map(_ => Now - Day - r.nextInt(60).toLong * Day)
        var id = 0L
        def next(): Long = { id += 1; 9300000000L + id * 11 }
        def oneOf(u: Int, history: Boolean): Activity = {
          val (lo, hi) = if (history) (Now - 1095 * Day, cut(u)) else (cut(u) + 3600, Now - 3600)
          val epoch = lo + (r.nextDouble() * (hi - lo)).toLong
          val roll = r.nextDouble()
          val (valid, streams) =
            if (roll < 0.01) (false, Some(ride(r, 60 + r.nextInt(120), 0, 0)))
            else if (roll < 0.02) (true, Some(bypassTrack(r, 80)))
            else if (roll < 0.12) (true, None)
            else (true, Some(ride(r, 60 + r.nextInt(120), 1, 90)))
          Activity(next(), u, epoch, elapsedOf(streams), valid, broken = false, history, streams)
        }
        val history = for { u <- 0 until users; _ <- 0 until perUser } yield oneOf(u, history = true)
        // the newest history activity of each user is valid, so the
        // watermark is the same with or without the invalid ones
        val newest = (0 until users).map(u => oneOf(u, history = true).copy(epoch = cut(u), valid = true))
        val newOnes = freshUsers.map(u => oneOf(u, history = false))
        val broken = (0 until math.max(1, total / 100)).map(i => brokenActivity(next(), i % users))
        Dataset(workload, seed, Now, users, r.shuffle(history ++ newest ++ newOnes ++ broken).toIndexedSeq)

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def elapsedOf(s: Option[Streams]): Long = s.fold(1800L)(st => st.time(st.n - 1) + 1 +
    (if (st.time(st.n - 1) >= 100000L) 0L else 30L))

  /** A new activity `day` days before [[Now]], at a random time of day. */
  private def activity(r: Random, id: Long, user: Int, day: Int, valid: Boolean,
                       streams: Option[Streams]): Activity = {
    val epoch = Now - day * Day + (r.nextDouble() * Day).toLong
    Activity(id, user, epoch, elapsedOf(streams), valid, broken = false, history = false, streams)
  }

  private def brokenActivity(id: Long, user: Int): Activity =
    Activity(id, user, 0L, 0L, valid = false, broken = true, history = false, None)

  /** A multi-day recording (elapsed >= 100000 s): the pipeline keeps
    * its raw samples and gives it no maxima (R5). */
  private def bypassTrack(r: Random, samples: Int): Streams = {
    val time = Array.tabulate(samples)(i => i * 300L + r.nextInt(200))
    time(samples - 1) = math.max(time(samples - 1), 100000L)
    val v = Array.fill(samples)(math.round((2 + 6 * r.nextDouble()) * 10) / 10.0)
    Streams(time, v, Some(Array.fill(samples)((100 + r.nextInt(60)).toDouble)), None,
      None, None, None)
  }

  /** A 1 Hz recording of `moving` samples with `pauses` stops of
    * `pause` seconds, short auto-recording gaps and HR dropouts. */
  private def ride(r: Random, moving: Int, pauses: Int, pause: Int,
                   sensors: Option[Sensors] = None): Streams = {
    val kit = sensors.getOrElse(Sensors.draw(r))
    val stops = r.shuffle((1 until moving - 1).toIndexedSeq).take(pauses).toSet
    val time = new Array[Long](moving)
    var t = r.nextInt(3).toLong
    var i = 0
    while (i < moving) {
      time(i) = t
      t += 1
      if (r.nextDouble() < 0.03) t += 1 + r.nextInt(3) // assumed gap rate
      if (stops.contains(i)) t += pause
      i += 1
    }

    val v = new Array[Double](moving)
    val hr = new Array[Double](moving)
    val w = new Array[Double](moving)
    val cad = new Array[Double](moving)
    val temp = new Array[Double](moving)
    val lat = new Array[Double](moving)
    val lng = new Array[Double](moving)
    var speed = 4 + 6 * r.nextDouble()
    var pulse = 110 + r.nextInt(40).toDouble
    var la = 45 + r.nextDouble()
    var lo = 6 + r.nextDouble()
    val t0 = (10 + r.nextInt(15)).toDouble
    var dropout = 0
    i = 0
    while (i < moving) {
      speed = math.min(16.0, math.max(0.5, speed + r.nextGaussian() * 0.3))
      pulse = math.min(195.0, math.max(80.0, pulse + r.nextGaussian()))
      v(i) = math.round(speed * 10) / 10.0
      if (dropout > 0) dropout -= 1
      else if (r.nextDouble() < 0.005) dropout = 1 + r.nextInt(8)
      hr(i) = if (dropout > 0) Double.NaN else math.round(pulse).toDouble
      val watts = math.max(0L, math.round(speed * 22 + r.nextGaussian() * 25)).toDouble
      w(i) = if (kit.negativePower) -20.0 - (watts % 180) else watts
      cad(i) = math.max(0L, math.round(80 + r.nextGaussian() * 8)).toDouble
      temp(i) = t0 + (i / 900)
      la += speed * 1e-5; lo += speed * 7e-6
      lat(i) = math.round(la * 1e6) / 1e6
      lng(i) = math.round(lo * 1e6) / 1e6
      i += 1
    }
    Streams(time, v, Option.when(kit.hr)(hr), Option.when(kit.power)(w),
      Option.when(kit.cadence)(cad), Option.when(kit.temp)(temp), Option.when(kit.gps)((lat, lng)))
  }

  // ---------------------------------------------------------------- files

  /** Writes activity JSONL and channel-dict stream JSONL as
    * `StravaJsonSource` reads them. Returns the bytes written. */
  def writeActivities(ds: Dataset, acts: Seq[Activity], file: File): Long =
    writeLines(file, acts.iterator.map(a => activityJson(ds, a)))

  def writeStreams(acts: Seq[Activity], file: File): Long =
    writeLines(file, acts.iterator.flatMap(a => a.streams.map(s => streamJson(a.id, s))))

  private def writeLines(file: File, lines: Iterator[String]): Long = {
    file.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => out.write(l); out.write('\n') }
    finally out.close()
    file.length()
  }

  private def activityJson(ds: Dataset, a: Activity): String = {
    if (a.broken) return s"""{"id": ${a.id}, "name": "Evening Ride", "start_date": """
    val sb = new StringBuilder(512)
    val s = a.streams
    def mean(x: Option[Array[Double]]) = x.map(arr => arr.filterNot(_.isNaN)).filter(_.nonEmpty)
      .fold("null")(v => f"${v.sum / v.length}%.1f")
    def top(x: Option[Array[Double]]) = x.map(arr => arr.filterNot(_.isNaN)).filter(_.nonEmpty)
      .fold("null")(v => v.max.toString)
    val moving = s.fold(1800L)(_.n.toLong)
    val dist = s.fold(0.0)(st => st.velocity.sum)
    sb.append("{\"id\": ").append(a.id)
      .append(", \"name\": \"").append(if (s.isEmpty) "Gym session" else "Ride").append(' ').append(a.id % 1000).append('"')
      .append(", \"type\": \"").append(if (s.isEmpty) "Workout" else "Ride").append('"')
      .append(", \"start_date\": \"").append(Instant.ofEpochSecond(a.epoch).toString).append('"')
      .append(", \"athlete\": {\"id\": ").append(ds.athleteId(a.user)).append('}')
      .append(", \"username\": \"").append(ds.username(a.user)).append('"')
      .append(", \"total_elevation_gain\": ").append(f"${moving * 0.3}%.1f")
      .append(", \"distance\": ").append(f"$dist%.1f")
      .append(", \"moving_time\": ").append(moving)
    if (a.valid) sb.append(", \"elapsed_time\": ").append(a.elapsed)
    sb.append(", \"commute\": ").append(a.id % 5 == 0)
      .append(", \"gear_id\": \"b").append(a.user).append('"')
    s.flatMap(_.latlng).foreach { case (la, lo) =>
      sb.append(", \"map\": {\"summary_polyline\": \"p").append(a.id).append("\"}")
        .append(", \"start_latlng\": [").append(la.head).append(", ").append(lo.head).append(']')
        .append(", \"end_latlng\": [").append(la.last).append(", ").append(lo.last).append(']')
    }
    sb.append(", \"max_speed\": ").append(top(s.map(_.velocity)))
      .append(", \"average_speed\": ").append(mean(s.map(_.velocity)))
      .append(", \"max_watts\": ").append(top(s.flatMap(_.watts)))
      .append(", \"average_watts\": ").append(mean(s.flatMap(_.watts)))
      .append(", \"max_heartrate\": ").append(top(s.flatMap(_.heartrate)))
      .append(", \"average_heartrate\": ").append(mean(s.flatMap(_.heartrate)))
      .append('}')
    sb.toString
  }

  private def streamJson(id: Long, s: Streams): String = {
    val sb = new StringBuilder(s.n * 96)
    def arr(name: String, n: Int)(el: Int => Unit): Unit = {
      sb.append(", \"").append(name).append("\": [")
      var i = 0
      while (i < n) { if (i > 0) sb.append(','); el(i); i += 1 }
      sb.append(']')
    }
    def num(x: Double): Unit = if (x.isNaN) sb.append("null") else sb.append(x)
    def channel(name: String, x: Option[Array[Double]]): Unit =
      x.foreach(v => arr(name, s.n)(i => num(v(i))))
    sb.append("{\"activity_id\": ").append(id)
    arr("time", s.n)(i => sb.append(s.time(i)))
    s.latlng.foreach { case (la, lo) =>
      arr("latlng", s.n)(i => sb.append('[').append(la(i)).append(',').append(lo(i)).append(']'))
    }
    val dist = new Array[Double](s.n)
    var acc = 0.0
    var i = 0
    while (i < s.n) { acc += s.velocity(i); dist(i) = math.round(acc * 10) / 10.0; i += 1 }
    channel("distance", Some(dist))
    channel("altitude", Some(Array.tabulate(s.n)(k => 200.0 + (k / 60) % 40)))
    channel("velocity_smooth", Some(s.velocity))
    channel("heartrate", s.heartrate)
    channel("cadence", s.cadence)
    channel("watts", s.watts)
    channel("temp", s.temp)
    arr("moving", s.n)(k => sb.append(s.velocity(k) > 0.6))
    channel("grade_smooth", Some(Array.tabulate(s.n)(k => ((k / 60) % 7 - 3).toDouble)))
    sb.append('}')
    sb.toString
  }
}
