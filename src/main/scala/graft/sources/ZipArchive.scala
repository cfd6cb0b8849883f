package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, BufferedOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

/** S9: zip-archive ingestion (ref: project_setup/round3_setup/
  * extract_submission_files.R:43-51 — download submission zip, `unzip`,
  * enumerate member files). Spark-first shape: archives land as rows of a
  * `binaryFile` scan (path, content) and each task fans one archive out to
  * its member files — a narrow flatMap, no shuffle, parallel across
  * archives. At 100 TB the same plan holds: the binaryFile source splits
  * by archive (zips aren't splittable mid-file), so per-archive decode is
  * the unit of parallelism, exactly like gzip WARC ingestion.
  */
object ZipArchive {

  /** Enumerate (memberName, bytes) from one in-memory zip payload.
    * Archives are member-streamed — only one member is resident at a time
    * beyond the archive bytes themselves.
    */
  def entries(bytes: Array[Byte]): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
      private var entry: ZipEntry = advance()
      private def advance(): ZipEntry = {
        var e = zin.getNextEntry
        while (e != null && e.isDirectory) e = zin.getNextEntry
        e
      }
      def hasNext: Boolean = entry != null
      def next(): (String, Array[Byte]) = {
        val name = entry.getName
        val out = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = zin.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = zin.read(buf) }
        entry = advance()
        if (entry == null) zin.close()
        (name, out.toByteArray)
      }
    }

  /** Write one zip file with the given members. Entry mtimes are pinned
    * so the archive bytes are a pure function of the members
    * (determinism requirement, SURVEY.md §7.5). Writes go through the
    * Hadoop FileSystem API so an EXECUTOR staging an archive targets
    * shared storage — file:// under local masters, the cluster's default
    * FS (e.g. hdfs://) under spark-submit — never an executor-local disk
    * the driver-side binaryFile scan could not see (round-2 review).
    */
  def writeZip(path: String, members: Iterator[(String, Array[Byte])],
      hadoopConf: Seq[(String, String)] = Nil): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the SESSION's Hadoop conf from the serialized kv list (the JVM's
    // shared instance for it): a bare `new Configuration()` ignores
    // spark.hadoop.* settings (defaultFS override, object-store
    // credentials) on executors, so the write would target the wrong FS
    // while the driver-side scan reads via Spark's conf
    val fs = p.getFileSystem(graft.cdc.ParquetRowCodec.confFrom(hadoopConf))
    val zout = new ZipOutputStream(
      new BufferedOutputStream(fs.create(p, true)))
    try {
      members.foreach { case (name, bytes) =>
        val e = new ZipEntry(name)
        e.setTime(0L)
        zout.putNextEntry(e)
        zout.write(bytes)
        zout.closeEntry()
      }
    } finally zout.close()
  }
}
