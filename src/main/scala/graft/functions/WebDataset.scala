package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WebDataset-style tar sharding — the delivery format large-scale
  * multimodal/text training loaders consume (one POSIX ustar archive
  * per shard, one file entry per sample, samples grouped by key).
  * The writer is fully distributed: samples are hash-repartitioned by
  * shard id, each executor streams its shards' entries through the
  * Hadoop FileSystem (works for file://, s3ish://, s3a://), and the
  * tar bytes are DETERMINISTIC (fixed mtime/uid/mode, sorted entry
  * order), so shard sizes are a pure function of the payload lengths
  * — which is what lets a SQL oracle verify the writer end to end.
  *
  * ustar layout per entry: one 512-byte header + payload padded to a
  * 512 multiple; archive ends with two zero blocks. No external tar
  * library — the format is 40 lines of public spec.
  */
object WebDataset {

  /** one 512-byte POSIX ustar header */
  private[graft] def tarHeader(name: String, size: Long): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100, s"name too long: $name")
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8")
      System.arraycopy(b, 0, h, off, b.length)
    }
    def oct(off: Int, len: Int, v: Long): Unit = {
      // len-1 octal digits, NUL terminated (GNU/POSIX accept both).
      // A value needing more digits (size >= 8^11 ~ 8.5 GB for the
      // 12-byte field) would silently overwrite the adjacent field —
      // fail loudly instead, mirroring the name-length require.
      require(v >= 0 && v < (1L << (3 * (len - 1))),
        s"value $v does not fit ${len - 1} octal digits")
      put(off, ("%0" + (len - 1) + "o").format(v))
    }
    put(0, name)
    oct(100, 8, 420L)      // mode 0644
    oct(108, 8, 0L)        // uid
    oct(116, 8, 0L)        // gid
    oct(124, 12, size)
    oct(136, 12, 0L)       // mtime: fixed for determinism
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum spaces
    h(156) = '0'           // typeflag: regular file
    put(257, "ustar")      // magic (NUL-terminated by zero fill)
    h(263) = '0'; h(264) = '0' // version "00"
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    put(148, "%06o".format(sum)); h(154) = 0; h(155) = ' '
    h
  }

  private def pad(n: Long): Int = ((512 - n % 512) % 512).toInt

  /** Write (key, payload, shard) rows as `shard-<id>.tar` files under
    * `dir`. Entries are ordered by key within a shard (deterministic
    * bytes); each executor writes the shards its partition holds, so
    * no sample ever moves through the driver. Returns nothing — read
    * the manifest back from the FileSystem (see shardManifest). */
  def writeShards(df: DataFrame, dir: String): Unit = {
    val cols = df.select(col("key").cast("string"),
      col("payload").cast("binary"), col("shard").cast("int"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    cols.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("key"))
      .foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(conf.value)
        // Poor-man's output commit: every shard streams to an
        // ATTEMPT-UNIQUE temp path and is renamed into place only once
        // its trailer is written. A speculative or zombie retry of the
        // same partition writes its own temp file; whichever attempt
        // renames last replaces the shard WHOLESALE — a reader can see
        // an older complete archive, never interleaved bytes from two
        // writers (the hazard of two attempts appending to one final
        // path on s3a/HDFS-style stores).
        val tc = org.apache.spark.TaskContext.get()
        val attempt =
          if (tc == null) "local"
          else s"${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}"
        var cur = -1
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        def commit(): Unit = if (out != null) {
          out.write(new Array[Byte](1024)) // two zero trailer blocks
          out.close(); out = null
          val fin = new org.apache.hadoop.fs.Path(
            dir, f"shard-$cur%05d.tar")
          val tmp = new org.apache.hadoop.fs.Path(
            dir, f"_tmp-shard-$cur%05d.$attempt")
          if (fs.exists(fin)) fs.delete(fin, false)
          require(fs.rename(tmp, fin), s"commit rename failed: $tmp")
        }
        it.foreach { r =>
          val (key, payload, shard) =
            (r.getString(0), r.getAs[Array[Byte]](1), r.getInt(2))
          if (shard != cur) {
            commit()
            cur = shard
            out = fs.create(new org.apache.hadoop.fs.Path(
              dir, f"_tmp-shard-$shard%05d.$attempt"), true)
          }
          out.write(tarHeader(s"$key.txt", payload.length.toLong))
          out.write(payload)
          out.write(new Array[Byte](pad(payload.length.toLong)))
        }
        commit()
      }
  }

  /** the written shards' actual on-store sizes, as a DataFrame —
    * comparing this against the closed-form expected sizes is the
    * end-to-end proof the writer laid out every header, payload and
    * pad block correctly */
  def shardManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("shard-"))
      .map(st => (st.getPath.getName
          .stripPrefix("shard-").stripSuffix(".tar").toLong,
        st.getLen))
      .toSeq.sortBy(_._1)
    rows.toDF("shard", "tar_bytes")
  }

  /** minimal ustar reader for round-trip tests: (name, bytes) pairs */
  private[graft] def readTar(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    while (off + 512 <= bytes.length) {
      val name = new String(bytes, off, 100, "UTF-8").takeWhile(_ != 0)
      if (name.isEmpty) { off = bytes.length } // zero trailer
      else {
        val size = java.lang.Long.parseLong(
          new String(bytes, off + 124, 12, "UTF-8")
            .takeWhile(c => c >= '0' && c <= '7'), 8)
        val data = java.util.Arrays.copyOfRange(
          bytes, off + 512, off + 512 + size.toInt)
        out += name -> data
        off += 512 + size.toInt + ((512 - size % 512) % 512).toInt
      }
    }
    out.result()
  }
}
