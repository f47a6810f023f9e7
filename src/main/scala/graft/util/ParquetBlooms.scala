package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Parquet-native bloom filters as a FILE-PRUNING index for keyed
  * point operations over manifested layouts.
  *
  * Manifest stats (min/max of the layout's boundary column) answer
  * range questions; they are useless for a key the layout is NOT
  * sorted by — an events log sorted by timestamp spreads any given
  * `uid` across every file, so every file's uid range covers the whole
  * domain and a keyed delete or point lookup degenerates to a full
  * scan. Parquet's split-block bloom filters (public parquet-format
  * spec; written by parquet-mr when the
  * `parquet.bloom.filter.enabled#<col>` writer option is set) close
  * exactly that gap: a few-KB filter per row group, stored in the
  * file itself, probed from the footer without touching a data page.
  *
  * The layout declares its lookup-key columns ONCE
  * ([[declare]] writes a tiny `bloom-cols` file beside the manifests —
  * the [[BucketedManifest]] `bucket-spec` precedent); every staged
  * write the manifest layer performs afterwards (appends, compaction
  * and clustering replacements, delete survivors) picks the options
  * up via [[writerOptions]], so the index maintains itself through
  * the layout's whole lifecycle. Files written before the declaration
  * simply have no filter and stay permanent candidates — the probe is
  * conservative, never wrong.
  *
  * At 100 TB the arithmetic is the point: a right-to-be-forgotten
  * delete of one user on a time-sorted log reads O(row groups
  * actually holding that user) data pages plus one footer per file —
  * the footers are a distributed metadata scan (a parallelize over
  * file names, ~KBs each), not a 100 TB data scan.
  */
object ParquetBlooms {

  private val ColsFile = "bloom-cols"

  /** Probing collects the key set to the driver (it must hash each
    * key against each candidate footer's filter). Point operations
    * carry small key sets by nature; anything larger falls back to
    * the scan path, which handles arbitrary key cardinality.
    */
  val MaxProbeKeys = 100000

  /** Declare `cols` as lookup-key columns of the manifested layout at
    * `root`: every file the manifest layer stages from now on carries
    * a split-block bloom filter per declared column, sized for
    * `expectedNdv` distinct values per row group. Declaring is
    * metadata-only (existing files are not rewritten — they gain
    * filters as maintenance naturally rewrites them), and a staged
    * build declares before it stages, so the root needs no committed
    * generation yet. A root records ONE declaration
    * ([[ManifestLog.recordSidecar]]): declaring the same columns again
    * is a no-op, and a different declaration fails and keeps the
    * recorded one.
    */
  def declare(spark: SparkSession, root: String, cols: Seq[String],
      expectedNdv: Long = 100000L): Unit = {
    require(cols.nonEmpty, "declare at least one bloom column")
    val (p, fs) = ManifestLog.hadoop(spark, root)
    ManifestLog.recordSidecar(fs, p, ColsFile, "bloom columns",
      cols.map(c => s"$c\t$expectedNdv\n").mkString)
  }

  /** The declared bloom columns (with expected NDV), empty when the
    * layout never declared any.
    */
  def declared(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val (p, fs) = ManifestLog.hadoop(spark, root)
    declaredOf(fs, p)
  }

  private[util] def declaredOf(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    val f = new org.apache.hadoop.fs.Path(ManifestLog.manifestDir(p), ColsFile)
    if (!fs.exists(f)) return Nil
    val in = fs.open(f)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      .filter(_.nonEmpty).map(_.split('\t') match {
        case Array(c, ndv) => (c, ndv.toLong)
        case other => throw new IllegalStateException(
          s"unparseable bloom-cols line '${other.mkString("\t")}' at $f")
      })
    finally in.close()
  }

  /** Parquet writer options enabling the declared filters — attached
    * by the manifest layer's staging writes so every replacement and
    * appended file maintains the index.
    */
  private[util] def writerOptions(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Map[String, String] =
    declaredOf(fs, p).flatMap { case (c, ndv) =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
    }.toMap

  /** The subset of `files` (absolute path strings) that MAY contain
    * at least one of `keys` in column `col`, decided from footers and
    * dictionary pages alone: a row group rules keys out through its
    * bloom filter, or — when parquet-mr wrote no filter because every
    * data page is dictionary-encoded (the writer deliberately drops
    * the bloom then; the dictionary IS an exact membership structure)
    * — through an exact probe of the dictionary page, the parquet-mr
    * `DictionaryFilter` idea. A file is pruned only when every row
    * group rejects every key. Missing column, missing filter on a
    * non-dictionary chunk, or a key/physical-type mismatch all keep
    * the file — conservative, never wrong. The probe distributes over
    * the executors (footer + at most one dictionary page per row
    * group, no data pages).
    */
  def mayContainAny(spark: SparkSession, files: Seq[String], col: String,
      keys: Seq[Any]): Seq[String] = {
    if (files.isEmpty || keys.isEmpty) return Nil
    require(keys.length <= MaxProbeKeys,
      s"${keys.length} probe keys exceed MaxProbeKeys=$MaxProbeKeys — " +
        "use the scan path for bulk key sets")
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val keysB = spark.sparkContext.broadcast(keys.toArray)
    val slices = math.min(files.length, 64)
    try spark.sparkContext.parallelize(files, slices)
      .filter(f => probeFile(conf.value.value, f, col, keysB.value))
      .collect().toSeq
    finally { conf.destroy(); keysB.destroy() }
  }

  /** Executor-side probe of one file: true = may contain some key.
    * A failed footer read keeps the file (conservative — a pruning
    * index must never turn a transient IO error or a malformed footer
    * into a wrongly-skipped file; the downstream scan surfaces real
    * damage loudly, on the query that actually needs the bytes).
    */
  private def probeFile(conf: org.apache.hadoop.conf.Configuration,
      file: String, col: String, keys: Array[Any]): Boolean =
    try probeFooter(conf, file, col, keys)
    catch { case scala.util.control.NonFatal(_) => true }

  private def probeFooter(conf: org.apache.hadoop.conf.Configuration,
      file: String, col: String, keys: Array[Any]): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    // The file is a candidate iff SOME row group may contain SOME key;
    // it prunes only when every row group's filter rejects every key.
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      reader.getFooter.getBlocks.asScala.exists { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == col) match {
          case None => true // column absent: cannot rule out
          case Some(meta) =>
            val tn = meta.getPrimitiveType.getPrimitiveTypeName
            val bf = reader.getBloomFilterDataReader(block).readBloomFilter(meta)
            if (bf != null) keys.exists { k =>
              hashOf(bf, tn, k) match {
                case Some(h) => bf.findHash(h)
                case None => true // unhashable pairing: keep
              }
            }
            else dictionaryMayContain(reader, schema, block, meta, tn, keys)
        }
      }
    } finally reader.close()
  }

  /** Exact dictionary-page membership for a chunk with NO bloom filter:
    * when the encoding stats prove every data page is dictionary-
    * encoded, the dictionary holds exactly the chunk's distinct values
    * — the probe is then precise, not probabilistic. Any uncertainty
    * (no encoding stats, a non-dictionary page, an unreadable page, a
    * type pairing we refuse to coerce) keeps the row group.
    */
  private def dictionaryMayContain(
      reader: org.apache.parquet.hadoop.ParquetFileReader,
      schema: org.apache.parquet.schema.MessageType,
      block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      meta: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      tn: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      keys: Array[Any]): Boolean = {
    val es = meta.getEncodingStats
    if (es == null || !es.hasDictionaryEncodedPages || es.hasNonDictionaryEncodedPages)
      return true // dictionary is not exhaustive for this chunk: keep
    val desc = schema.getColumnDescription(meta.getPath.toArray)
    // Widen to the public interface — the concrete reader class is
    // package-private in parquet-mr and cannot be referenced here.
    val store: org.apache.parquet.column.page.DictionaryPageReadStore =
      reader.getDictionaryReader(block)
    val page = store.readDictionaryPage(desc)
    if (page == null) return true
    val dict = page.getEncoding.initDictionary(desc, page)
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // One pass over the dictionary against the key set (dictionaries
    // are at most tens of thousands of entries — bounded by the 1MB
    // dictionary page, which is WHY the writer dropped the bloom).
    // Coercion failures are counted EXPLICITLY (an un-coercible key
    // keeps the chunk); the pre-r17 `set.size != keys.length` guard
    // also tripped on duplicate keys and Int/Long aliases of one
    // value, silently disabling exact dictionary pruning for inputs
    // like readKeyed(Seq(5L, 105L, 5L)).
    def probe[T](coerce: PartialFunction[Any, T])(decode: Int => T): Boolean =
      if (!keys.forall(coerce.isDefinedAt)) true
      else {
        val ks = keys.iterator.map(coerce).toSet
        (0 to dict.getMaxId).exists(i => ks(decode(i)))
      }
    tn match {
      case INT64 =>
        probe[Long] { case v: Long => v; case v: Int => v.toLong }(dict.decodeToLong)
      case INT32 =>
        probe[Int] {
          case v: Int => v
          case v: Long if v.isValidInt => v.toInt
        }(dict.decodeToInt)
      case BINARY =>
        probe[org.apache.parquet.io.api.Binary] {
          case v: String => org.apache.parquet.io.api.Binary.fromString(v)
          case v: Array[Byte] =>
            org.apache.parquet.io.api.Binary.fromConstantByteArray(v)
        }(dict.decodeToBinary)
      case _ => true // a pairing we refuse to coerce: keep
    }
  }

  /** Hash `key` with the filter's strategy as the column's physical
    * type stores it (the writer hashed stored values, so the probe
    * must coerce identically); None = a pairing we refuse to guess.
    */
  private def hashOf(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      tn: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      key: Any): Option[Long] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    (tn, key) match {
      case (INT64, v: Long) => Some(bf.hash(v))
      case (INT64, v: Int) => Some(bf.hash(v.toLong))
      case (INT32, v: Int) => Some(bf.hash(v))
      case (INT32, v: Long) if v.isValidInt => Some(bf.hash(v.toInt))
      case (BINARY, v: String) =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(v)))
      case (BINARY, v: Array[Byte]) =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromConstantByteArray(v)))
      case (DOUBLE, v: Double) => Some(bf.hash(v))
      case (FLOAT, v: Float) => Some(bf.hash(v))
      case _ => None
    }
  }
}
