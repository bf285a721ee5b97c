package graft.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

/** Seeded input generation. It runs in its own process before the measured
  * one, with one thread per output file (at most `nproc`), and writes only
  * plain files: the engine sees nothing of the generator.
  *
  * {{{
  * Gen graysort  <seed> <records> <dir> <files>
  * Gen mapreduce <seed> <lines>   <dir> <files>
  * }}}
  *
  * Each call also writes `<dir>.manifest` with the facts the output checks
  * need (record count, bytes, checksum). */
object Gen {
  val RecordLen = 100
  val KeyLen = 10

  /** valsort's checksum: the sum of the CRC32 of every record, wrapping. */
  def recordCrc(rec: Array[Byte]): Long = {
    val c = new CRC32
    c.update(rec, 0, rec.length)
    c.getValue
  }

  /** gensort-style record `i`: a 10-byte key from MD5(seed, i) and a
    * 90-byte printable value carrying the record number. */
  def graysortRecord(md: MessageDigest, seed: Long, i: Long, out: Array[Byte]): Unit = {
    val in = java.nio.ByteBuffer.allocate(16).putLong(seed).putLong(i).array()
    val d = md.digest(in)
    System.arraycopy(d, 0, out, 0, KeyLen)
    val num = f"$i%020d".getBytes(US_ASCII)
    System.arraycopy(num, 0, out, KeyLen, num.length)
    java.util.Arrays.fill(out, KeyLen + num.length, RecordLen, ('A' + (i % 26)).toByte)
  }

  /** Word of Zipf rank `r` (1 = most frequent). */
  def word(r: Int): String = "w" + Integer.toString(r, 36)

  private def inParallel[T](n: Int)(f: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try pool.invokeAll((0 until n).map(p => new Callable[T] { def call(): T = f(p) }).asJava)
      .asScala.toSeq.map(_.get())
    finally pool.shutdown()
  }

  private def fresh(dir: String): File = {
    val d = new File(dir)
    Option(d.listFiles()).foreach(_.foreach(_.delete()))
    d.mkdirs()
    d
  }

  def graysort(seed: Long, records: Long, dir: String, files: Int): String = {
    val d = fresh(dir)
    val per = (records + files - 1) / files
    val sums = inParallel(files) { p =>
      val md = MessageDigest.getInstance("MD5")
      val rec = new Array[Byte](RecordLen)
      val out = new BufferedOutputStream(
        new FileOutputStream(new File(d, f"part-$p%05d.bin")), 1 << 20)
      var sum = 0L
      var i = p * per
      val end = math.min(records, (p + 1) * per)
      try while (i < end) {
        graysortRecord(md, seed, i, rec)
        out.write(rec)
        sum += recordCrc(rec)
        i += 1
      } finally out.close()
      sum
    }
    s"""{"records":$records,"bytes":${records * RecordLen},"checksum":${sums.sum}}"""
  }

  /** Lines `d<doc>\t<words>`, 8 to 24 words each, drawn from a Zipf(1.0)
    * law over 20,000 words, so a few words are in most documents. */
  def mapreduce(seed: Long, lines: Long, dir: String, files: Int): String = {
    val d = fresh(dir)
    val vocab = 20000
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    for (r <- 0 until vocab) { acc += 1.0 / (r + 1); cdf(r) = acc }
    for (r <- 0 until vocab) cdf(r) /= acc
    val per = (lines + files - 1) / files
    val bytes = inParallel(files) { p =>
      val rnd = new SplittableRandom(seed * 1000003L + p)
      val out = new BufferedOutputStream(
        new FileOutputStream(new File(d, f"part-$p%05d.txt")), 1 << 20)
      var n = 0L
      var i = p * per
      val end = math.min(lines, (p + 1) * per)
      val sb = new java.lang.StringBuilder
      try while (i < end) {
        sb.setLength(0)
        sb.append('d').append(i).append('\t')
        val k = 8 + rnd.nextInt(17)
        var j = 0
        while (j < k) {
          var r = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
          if (r < 0) r = -r - 1
          if (j > 0) sb.append(' ')
          sb.append(word(math.min(r, vocab - 1) + 1))
          j += 1
        }
        sb.append('\n')
        val b = sb.toString.getBytes(US_ASCII)
        out.write(b)
        n += b.length
        i += 1
      } finally out.close()
      n
    }
    s"""{"records":$lines,"bytes":${bytes.sum},"checksum":0}"""
  }

  def main(args: Array[String]): Unit = {
    val Array(kind, seed, n, dir, files) = args
    val manifest = kind match {
      case "graysort" => graysort(seed.toLong, n.toLong, dir, files.toInt)
      case "mapreduce" => mapreduce(seed.toLong, n.toLong, dir, files.toInt)
      case other => sys.error(s"unknown input kind $other")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir + ".manifest"), manifest)
  }
}
