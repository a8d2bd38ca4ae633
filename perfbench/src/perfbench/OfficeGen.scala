package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded KETI-shaped office tree: `<root>/<room>/<sensor>.csv`, one
  * `ts_min_bignt,reading` row per minute and sensor.
  *
  * Three planted properties, each with a known effect on the aligned table:
  *   - missing minutes (a sensor file skips the minute: inner-join loss);
  *   - null readings (an empty field: dropna loss);
  *   - a share of `pir > 0` minutes (the `if_movement` enrichment).
  *
  * [[Expected]] is computed here in plain Scala while the files are written,
  * never by Spark, so the pipeline's outputs are checked against an
  * independent reference.
  */
object OfficeGen {
  val Sensors: Seq[String] = Seq("co2", "humidity", "light", "pir", "temperature")
  /** 2013-09-01 00:00:00 UTC, the start month of the KETI recording. */
  val BaseTs: Long = 1377993600L
  val MissShare = 0.02
  val NullShare = 0.01
  val MoveShare = 0.3

  final case class Expected(rows: Long, hash: Long, movement: Long) {
    def +(o: Expected): Expected =
      Expected(rows + o.rows, hash + o.hash, movement + o.movement)
  }
  val Empty: Expected = Expected(0L, 0L, 0L)

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  def eventTs(ts: Long): String = tsFmt.format(Instant.ofEpochSecond(ts))

  /** Canonical text of one aligned office row; floats in Java's shortest
    * round-trip form, so any reader that recovers the same float values
    * produces the same text.
    */
  def canonical(ts: Long, vals: Array[Float], room: String, evTs: String): String = {
    val sb = new StringBuilder
    sb.append(ts)
    vals.foreach(v => sb.append('|').append(java.lang.Float.toString(v)))
    sb.append('|').append(room).append('|').append(evTs).toString
  }

  /** 64-bit row hash; summed over rows it is order-insensitive and still
    * counts a duplicated row twice.
    */
  def rowHash(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x2a)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** Reading in tenths, rendered as the CSV text Spark parses to a float. */
  private def reading(rnd: java.util.SplittableRandom, sensor: String): Int =
    sensor match {
      case "co2"         => 4000 + rnd.nextInt(3000)
      case "humidity"    => 400 + rnd.nextInt(250)
      case "light"       => rnd.nextInt(5000)
      case "pir"         => if (rnd.nextDouble() < MoveShare) 10 * (1 + rnd.nextInt(30)) else 0
      case "temperature" => 200 + rnd.nextInt(80)
    }

  private def tenths(t: Int): String = s"${t / 10}.${t % 10}"

  /** Generate `rooms` × 5 sensors × `minutes`; when `dir` is given, write
    * the sensor files under it. Every aligned row (all five readings present
    * and non-null) is passed to `aligned`; returns what the aligned table
    * must hold.
    */
  def generate(seed: Long, rooms: Int, minutes: Int, dir: Option[File],
      aligned: (Long, Array[Float], String, String) => Unit = (_, _, _, _) => ()): Expected = {
    val rnd = new java.util.SplittableRandom(seed)
    val roomIds = rnd.ints(100, 1000).distinct().limit(rooms.toLong).toArray.sorted
    val pirIdx = Sensors.indexOf("pir")
    var exp = Empty
    roomIds.foreach { id =>
      val room = s"room_$id"
      // cells(s)(m): tenths, or -1 for a null reading, or -2 for a missing row
      val cells = Array.ofDim[Int](Sensors.size, minutes)
      Sensors.indices.foreach { s =>
        var m = 0
        while (m < minutes) {
          val u = rnd.nextDouble()
          cells(s)(m) =
            if (u < MissShare) -2
            else if (u < MissShare + NullShare) -1
            else reading(rnd, Sensors(s))
          m += 1
        }
      }
      dir.foreach(d => writeRoom(new File(d, room), cells, minutes))
      var m = 0
      while (m < minutes) {
        if (Sensors.indices.forall(s => cells(s)(m) >= 0)) {
          val vals = Sensors.indices.map(s => java.lang.Float.parseFloat(tenths(cells(s)(m)))).toArray
          val ts = BaseTs + 60L * m
          val evTs = eventTs(ts)
          aligned(ts, vals, room, evTs)
          exp = exp + Expected(1L, rowHash(canonical(ts, vals, room, evTs)),
            if (vals(pirIdx) > 0f) 1L else 0L)
        }
        m += 1
      }
    }
    exp
  }

  private def writeRoom(dir: File, cells: Array[Array[Int]], minutes: Int): Unit = {
    dir.mkdirs()
    Sensors.indices.foreach { s =>
      val w = new BufferedWriter(new FileWriter(new File(dir, s"${Sensors(s)}.csv")))
      try {
        w.write("ts_min_bignt,reading\n")
        var m = 0
        while (m < minutes) {
          val c = cells(s)(m)
          if (c != -2) {
            w.write((BaseTs + 60L * m).toString)
            w.write(',')
            if (c >= 0) w.write(tenths(c))
            w.write('\n')
          }
          m += 1
        }
      } finally w.close()
    }
  }
}
