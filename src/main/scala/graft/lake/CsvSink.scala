package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame
import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

/** Single-file CSV sinks over the Hadoop FileSystem API — the VPTS exchange
  * contract is ONE ordered CSV per day/month (`vpts.py:278-294`), so these
  * stream the (already totally-sorted) DataFrame through the driver with
  * toLocalIterator: partitions arrive in sort order and are never all held
  * in memory. Works against local paths and s3a:// alike.
  *
  * Both sinks write a hidden sibling temp file and replace the target only
  * once it is complete, so a rebuild that fails midway leaves the previous
  * output in place.
  */
object CsvSink {

  def fs(conf: Configuration, path: String): FileSystem =
    new HPath(path).getFileSystem(conf)

  /** pandas to_csv minimal quoting. */
  private def csvQuote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Write `path` through `body` into a temp file next to it, then swap it in.
    * If `body` throws, the temp file is deleted and `path` is untouched.
    */
  private def replaceFile(conf: Configuration, path: String, gzip: Boolean)(
      body: Writer => Unit): Unit = {
    val target = new HPath(path)
    val filesystem = fs(conf, path)
    val tmp = new HPath(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
    filesystem.mkdirs(target.getParent)
    try {
      val raw = filesystem.create(tmp, false)
      val out = new BufferedWriter(new OutputStreamWriter(
        if (gzip) new GZIPOutputStream(raw) else raw, UTF_8))
      try body(out) finally out.close()
    } catch {
      case e: Throwable =>
        filesystem.delete(tmp, false)
        throw e
    }
    // rename does not overwrite an existing target on every FileSystem
    filesystem.delete(target, false)
    if (!filesystem.rename(tmp, target))
      throw new java.io.IOException(s"could not move $tmp to $target")
  }

  def writeSingleCsv(df: DataFrame, path: String, gzip: Boolean = false): Unit =
    replaceFile(df.sparkSession.sparkContext.hadoopConfiguration, path, gzip) { out =>
      out.write(df.columns.mkString(","))
      out.write("\n")
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val sb = new StringBuilder
        var i = 0
        while (i < row.length) {
          if (i > 0) sb.append(',')
          sb.append(csvQuote(if (row.isNullAt(i)) "" else row.get(i).toString))
          i += 1
        }
        out.write(sb.toString)
        out.write("\n")
      }
    }

  /** Concatenate already-written daily CSVs (sorted file order, header kept
    * once) into one optionally-gzipped monthly CSV — the reference's
    * string-preserving pd.concat + to_csv round-trip (`vph5_to_vpts.py:
    * 230-245`) is byte-equivalent to header-stripping concatenation because
    * both sides use minimal quoting over unchanged strings.
    */
  def concatCsvFiles(conf: Configuration, inputs: Seq[String], outPath: String,
      gzip: Boolean): Unit =
    replaceFile(conf, outPath, gzip) { out =>
      var headerDone = false
      inputs.foreach { in =>
        val reader = new BufferedReader(new InputStreamReader(
          fs(conf, in).open(new HPath(in)), UTF_8))
        try {
          val header = reader.readLine()
          if (!headerDone && header != null) {
            out.write(header + "\n")
            headerDone = true
          }
          reader.lines().forEach(line => out.write(line + "\n"))
        } finally reader.close()
      }
    }
}
