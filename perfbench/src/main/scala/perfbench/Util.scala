package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal JSON writer: the harness only ever emits numbers, strings,
  * booleans, nulls, sequences and string-keyed maps. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Order-insensitive result digest: row count plus the sum of a 64-bit
  * hash of every row (columns visited in name order, so a projection
  * reordering does not change it). Collected with `Dataset.observe`, so
  * the check rides the same execution that is being timed instead of
  * running the query a second time. */
object Digest {
  def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)

  /** `df` wrapped with a row-count + hash-sum observation. */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash(df).cast(DecimalType(38, 0))),
        lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("hsum"))
    (out, obs)
  }

  /** (rows, hash sum) of an observation after its action completed. */
  def read(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hsum").toString)
  }

  /** (rows, hash sum) computed directly — for untimed checks. */
  def of(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(rowHash(df).cast(DecimalType(38, 0))),
        lit(BigDecimal(0)).cast(DecimalType(38, 0)))).first()
    (r.getLong(0), r.get(1).toString)
  }
}

/** Host record. The spin probe measures how many cores this process
  * really gets (a loaded host reads below `cpus`); it is recorded next
  * to the metrics and never used to normalize them. */
object Host {
  @volatile private var sink: Long = 0L

  private def spin(n: Long): Unit = {
    var i = 0L; var h = 0xcbf29ce484222325L
    while (i < n) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    sink ^= h
  }

  def effectiveCores(threads: Int): Double = {
    val n = 60000000L
    spin(n / 10)
    val t0 = System.nanoTime(); spin(n)
    val single = (System.nanoTime() - t0).toDouble
    val ts = (1 to threads).map(_ => new Thread(() => spin(n)))
    val t1 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    threads * single / (System.nanoTime() - t1)
  }

  def versions(spark: SparkSession): Map[String, Any] = Map(
    "spark" -> spark.version,
    "jdk" -> System.getProperty("java.version"),
    "jvm" -> System.getProperty("java.vm.name"),
    "scala" -> scala.util.Properties.versionNumberString)
}

object Fs {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        val b = Seq.newBuilder[Path]
        s.filter(x => Files.isRegularFile(x)).forEach(x => b += x)
        b.result()
      } finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def land(from: Path, toDir: Path): Path = {
    Files.createDirectories(toDir)
    Files.move(from, toDir.resolve(from.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Move the single part file Spark wrote under `dir` to `dest`. */
  def singlePart(dir: Path, ext: String, dest: Path): Path = {
    val part = files(dir).filter(_.getFileName.toString.endsWith(ext))
    require(part.size == 1, s"expected one $ext part under $dir, got ${part.size}")
    Files.createDirectories(dest.getParent)
    Files.move(part.head, dest, StandardCopyOption.ATOMIC_MOVE)
    rmrf(dir)
    dest
  }
}

/** Running SHA-256 over every generated input file, so two runs can be
  * shown to have used identical inputs. */
final class InputHash {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(name: String, bytes: Array[Byte]): Unit = {
    md.update(name.getBytes("UTF-8")); md.update(bytes)
  }
  def addFile(p: Path): Unit = add(p.getFileName.toString, Files.readAllBytes(p))
  def hex: String = md.clone().asInstanceOf[MessageDigest].digest()
    .map(b => f"${b & 0xff}%02x").mkString
}
