package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** DELETION VECTORS — the Iceberg-v3 / Delta shape for positional
  * deletes: ONE binary blob (`__deletes/dv_*.bin`) holding the tombstoned
  * positions of MANY data files, one compact section per (target file,
  * delete version), addressed by an index that rides the manifest entry's
  * stats field (`dv=<encRel>:<offset>:<len>:<seq>,…`). Applying deletes
  * to a data file costs one RANGED read of its own section — O(1) delete
  * artifacts per file, however deep the merged backlog — where the
  * pool-global parquet tombstone files cost one (row-group-skipped) scan
  * of each backlog file per target.
  *
  * Sections are delta-varint encoded sorted positions (count, first,
  * gaps — unsigned LEB128): dense and decodable in one pass; a million
  * tombstones in one file are a few MB. The per-section delete VERSION
  * preserves change-feed provenance across the merge: `rewrite_deletes`
  * compacts the artifact layout, never the history, so a change-feed
  * window planned after the rewrite still attributes each tombstone to
  * the commit that created it.
  *
  * [[ManifestTable.appendDeletes]] still stages parquet tombstones (the
  * shape a CDC writer emits); [[ManifestTable.rewriteDeletes]] folds the
  * backlog into one deletion vector.
  */
private[graft] object DeleteVectors {

  /** One target file's (or one (target, version)'s) section of a blob.
    * `count` is the section's POSITION COUNT — carried in the index so
    * planning can subtract exact tombstones from the manifest row count
    * without reading any blob (Iceberg v3 DVs record cardinality the
    * same way); -1 on entries written before the field existed
    * (planners keep the undeleted upper bound for those). */
  case class Slice(relEnc: String, offset: Long, len: Int, seq: Long,
                   count: Long = -1L)

  /** Slice delete-version placeholder in a DIRECT DML deletion vector:
    * the blob is written before its commit wins a version, so the writer
    * stamps this sentinel and [[ManifestTable]]'s commit loop replaces it
    * with the claimed version. Never visible in a committed manifest. */
  val SeqSentinel: Long = -1L

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** The stats-field index of a dv entry (the count token is omitted
    * when unknown, so legacy four-token indexes round-trip unchanged). */
  def encodeIndex(slices: Seq[Slice]): String =
    "dv=" + slices.map(s =>
      (Seq(enc(s.relEnc), s.offset.toString, s.len.toString, s.seq.toString) ++
        (if (s.count >= 0) Seq(s.count.toString) else Nil))
        .mkString(":")).mkString(",")

  def decodeIndex(stats: String): Option[Seq[Slice]] =
    if (!stats.startsWith("dv=")) None
    else scala.util.Try {
      stats.stripPrefix("dv=").split(',').filter(_.nonEmpty).toSeq.map { tok =>
        val p = tok.split(':')
        Slice(dec(p(0)), p(1).toLong, p(2).toInt, p(3).toLong,
          if (p.length > 4) p(4).toLong else -1L)
      }
    }.toOption

  // ---- section codec: count + delta positions, unsigned LEB128 ----------

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"negative varint $v")
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Encode SORTED positions as one section. */
  def encodePositions(sorted: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(sorted.length + 8)
    writeVarint(out, sorted.length.toLong)
    var prev = 0L
    var first = true
    sorted.foreach { p =>
      writeVarint(out, if (first) p else p - prev)
      prev = p; first = false
    }
    out.toByteArray
  }

  def decodePositions(bytes: Array[Byte]): Array[Long] = {
    var i = 0
    def readVarint(): Long = {
      var v = 0L; var shift = 0
      var b = bytes(i) & 0xff; i += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift; shift += 7
        b = bytes(i) & 0xff; i += 1
      }
      v | ((b & 0x7fL) << shift)
    }
    val n = readVarint().toInt
    val out = new Array[Long](n)
    var prev = 0L
    var j = 0
    while (j < n) {
      prev += readVarint()
      out(j) = prev
      j += 1
    }
    out
  }

  /** [[decodePositions]] hardened for UNTRUSTED bytes (fsck's content
    * verification): the count varint must not exceed the byte length
    * (each position costs ≥1 byte, so a corrupt count can never demand
    * an absurd allocation), varints must stay in 64 bits, and the decode
    * must consume the slice EXACTLY — trailing garbage is corruption,
    * not padding. Throws on any violation. */
  def decodePositionsStrict(bytes: Array[Byte]): Array[Long] = {
    var i = 0
    def readVarint(): Long = {
      var v = 0L; var shift = 0
      var b = bytes(i) & 0xff; i += 1
      while ((b & 0x80) != 0) {
        require(shift <= 56, "varint exceeds 64 bits")
        v |= (b & 0x7fL) << shift; shift += 7
        b = bytes(i) & 0xff; i += 1
      }
      v | ((b & 0x7fL) << shift)
    }
    val n = readVarint()
    require(n >= 0 && n <= bytes.length,
      s"position count $n exceeds the slice's ${bytes.length} bytes")
    val out = new Array[Long](n.toInt)
    var prev = 0L
    var j = 0
    while (j < n) {
      val d = readVarint()
      require(d >= 0, "negative position delta")
      prev += d
      out(j) = prev
      j += 1
    }
    require(i == bytes.length, s"slice has ${bytes.length - i} trailing bytes")
    out
  }

  /** One ranged read of a slice's bytes (task- or driver-side). */
  def readSliceBytes(path: String, offset: Long, len: Int,
                     conf: Configuration): Array[Byte] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      val buf = new Array[Byte](len)
      in.readFully(offset, buf)
      buf
    } finally in.close()
  }

  /** The tombstones of deletion-vector entries as a distributed
    * DataFrame (`__file`, `__pos`[, `__seq`]) — each task decodes its own
    * slices; nothing materializes on the driver. Input of the rewrite
    * merge and of the non-V2 read path's anti-join. */
  def tombstoneDf(spark: SparkSession, root: String,
                  dvEntries: Seq[ManifestTable.FileEntry],
                  withSeq: Boolean = false): DataFrame = {
    import spark.implicits._
    val slices: Seq[(String, String, Long, Int, Long)] = dvEntries.flatMap { e =>
      val idx = e.stats.flatMap(decodeIndex).getOrElse(
        throw new IllegalStateException(s"dv entry ${e.rel} has no index"))
      idx.map(s => (ManifestTable.dataPath(root, e.rel), s.relEnc, s.offset, s.len, s.seq))
    }
    val conf = SerializableHadoopConf.broadcast(spark)
    val ds = spark.createDataset(slices)
      .flatMap { case (path, rel, off, len, seq) =>
        decodePositions(readSliceBytes(path, off, len, conf.value.value))
          .map(p => (rel, p, seq))
      }.toDF("__file", "__pos", "__seq")
    if (withSeq) ds else ds.drop("__seq")
  }
}
