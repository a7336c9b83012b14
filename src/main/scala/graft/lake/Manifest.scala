package graft.lake

/** One version's manifest, parsed: the only code that knows the
  * on-disk format (docs/SCALE.md describes each part) — `#` headers,
  * then one line per live file in commit order:
  *
  * {{{
  *   #ts=<epochMillis>            commit time (TIMESTAMP AS OF)
  *   #op=<operation>              provenance (DESCRIBE HISTORY)
  *   #schema=<json>               physical schema of the commit's frame
  *   #colmap=<mapping>            column mapping (renames, drops)
  *   #parts=<col>,<col>           partition layout new commits write under
  *   #check=<name>\t<sql>         CHECK constraint, one per constraint
  *   #key=<kind>\t<name>\t<cols>  RELY key (pk, uq; fk adds \t<ref>\t<refcols>)
  *   #txn=<app>:<version>         application watermark, one per app
  *   #ingest=<mtime>\t<path>      COPY INTO ledger: a loaded source file
  *   #ingestwm=<mtime>\t<root>    COPY INTO ledger: a root's watermark
  *   <path>                       data file
  *   del|<path>                   equality-delete key file
  *   dv|<path>                    deletion vector
  * }}}
  *
  * Every header is optional on parse, so a manifest written before a
  * header existed reads as before; the store writes `#parts=` on every
  * manifest, so `parts` = None marks one older than the table-metadata
  * headers. `ingest` and `keys` keep their raw lines. */
private[lake] final case class Manifest(lines: Seq[String] = Nil,
                                        op: String = "WRITE",
                                        ts: Option[Long] = None,
                                        schema: Option[String] = None,
                                        colmap: Option[String] = None,
                                        parts: Option[Seq[String]] = None,
                                        checks: Seq[(String, String)] = Nil,
                                        keys: Seq[String] = Nil,
                                        txns: Seq[(String, Long)] = Nil,
                                        ingest: Seq[String] = Nil) {
  import Manifest._

  /** Data file paths, in manifest order. */
  def data: Seq[String] = lines.filterNot(isDeleteLine)
  /** Equality-delete key file paths, marker stripped. */
  def dels: Seq[String] = lines.filter(isDelLine).map(lineFile)
  /** Deletion-vector file paths, marker stripped. */
  def dvs: Seq[String] = lines.filter(isDvLine).map(lineFile)

  /** The partition layout (empty = unpartitioned). */
  def layout: Seq[String] = parts.getOrElse(Nil)
  /** RELY key lines split into fields: kind, name, columns[, ref, refcols]. */
  def keyFields: Seq[Array[String]] = keys.map(_.split("\t", -1))
  /** CHECK and RELY names: one namespace (DROP CONSTRAINT takes a bare name). */
  def constraintNames: Seq[String] = checks.map(_._1) ++ keyFields.map(_(1))

  def columnMapping: ColumnMapping =
    colmap.map(ColumnMapping.parse).getOrElse(ColumnMapping.empty)

  def physicalSchema: Option[org.apache.spark.sql.types.StructType] =
    schema.map(org.apache.spark.sql.types.DataType.fromJson(_)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** COPY INTO's ledger, parsed: (source file → its listing mtime,
    * source root → listing watermark). */
  def ingestState: TableStore.IngestState = {
    val (files, wms) = ingest.partition(_.startsWith(IngestHeader))
    def split(l: String, h: String): (String, Long) = {
      val body = l.stripPrefix(h)
      val i = body.indexOf('\t')
      require(i > 0, s"malformed ingest header '$l'")
      (body.substring(i + 1), body.substring(0, i).toLong)
    }
    TableStore.IngestState(
      files.map(l => split(l, IngestHeader)).toMap,
      wms.map(l => split(l, IngestWmHeader)).toMap)
  }

  /** The manifest a metadata-only commit on top of this one publishes:
    * every header but `#ts=` and `#txn=` carries (a watermark belongs
    * to the commit that recorded it). */
  def next(op: String, lines: Seq[String] = lines): Manifest =
    copy(lines = lines, op = op, ts = None, txns = Nil)

  /** The file's text. Refuses values that would break the line format. */
  def render: String = {
    txns.foreach { case (app, _) =>
      require(!app.contains(":") && !app.contains("\n"), s"bad txn app id '$app'")
    }
    require(!op.contains("\n"), s"bad op name '$op'")
    require(layout.forall(p => !p.contains(",") && !p.contains("\n")) &&
      checks.forall { case (n, sql) => !n.contains("\t") && !(n + sql).contains("\n") } &&
      keys.forall(!_.contains("\n")), s"bad table metadata: $layout $checks $keys")
    ingest.foreach { l =>
      require((l.startsWith(IngestHeader) || l.startsWith(IngestWmHeader)) &&
        !l.contains("\n"), s"bad ingest ledger line '$l'")
    }
    val headers = ts.map(TsHeader + _).toSeq ++ Seq(OpHeader + op) ++
      schema.map(SchemaHeader + _) ++ colmap.map(ColmapHeader + _) ++
      parts.map(PartsHeader + _.mkString(",")) ++
      checks.map { case (n, sql) => s"$CheckHeader$n\t$sql" } ++
      keys.map(KeyHeader + _) ++
      txns.map { case (app, ver) => s"$TxnHeader$app:$ver" } ++ ingest
    (headers ++ lines).mkString("\n")
  }
}

private[lake] object Manifest {
  private val TsHeader = "#ts="
  private val OpHeader = "#op="
  private val SchemaHeader = "#schema="
  private val ColmapHeader = "#colmap="
  private val PartsHeader = "#parts="
  private val CheckHeader = "#check="
  private val KeyHeader = "#key="
  private val TxnHeader = "#txn="
  private val IngestHeader = "#ingest="
  private val IngestWmHeader = "#ingestwm="
  private val DelPrefix = "del|"
  private val DvPrefix = "dv|"

  /** One pass over the text. Headers match on the raw line, as every
    * earlier reader did, and the first of a single-valued header wins;
    * files are the trimmed non-`#` lines. */
  def parse(text: String): Manifest = {
    val lines = Vector.newBuilder[String]
    val txns = Vector.newBuilder[(String, Long)]
    val ingest = Vector.newBuilder[String]
    val checks = Vector.newBuilder[String]
    val keys = Vector.newBuilder[String]
    val single = scala.collection.mutable.Map.empty[String, String]
    text.split("\n").foreach { l =>
      val t = l.trim
      if (t.isEmpty) ()
      else if (!t.startsWith("#")) lines += t
      else if (l.startsWith(TxnHeader)) {
        // the app id is everything before the LAST ':' (render refuses
        // ids holding one, so the split is unambiguous)
        val rest = l.stripPrefix(TxnHeader)
        val i = rest.lastIndexOf(':')
        txns += ((rest.substring(0, i), rest.substring(i + 1).trim.toLong))
      }
      else if (l.startsWith(IngestHeader) || l.startsWith(IngestWmHeader)) ingest += l
      else if (l.startsWith(CheckHeader)) checks += l.stripPrefix(CheckHeader)
      else if (l.startsWith(KeyHeader)) keys += l.stripPrefix(KeyHeader)
      else Seq(TsHeader, OpHeader, SchemaHeader, ColmapHeader, PartsHeader).find(l.startsWith)
        .foreach(h => if (!single.contains(h)) single(h) = l.stripPrefix(h).trim)
    }
    Manifest(lines.result(),
      op = single.getOrElse(OpHeader, "WRITE"),
      ts = single.get(TsHeader).map(_.toLong),
      schema = single.get(SchemaHeader).filter(_.nonEmpty),
      colmap = single.get(ColmapHeader).filter(_.nonEmpty),
      parts = single.get(PartsHeader).map(_.split(",").toSeq.filter(_.nonEmpty)),
      // the name ends at the first tab (render refuses one in a name)
      checks = checks.result().map(_.split("\t", 2)).collect { case Array(n, sql) => n -> sql },
      keys = keys.result(),
      txns = txns.result(), ingest = ingest.result())
  }

  def delLine(path: String): String = DelPrefix + path
  def dvLine(path: String): String = DvPrefix + path

  /** True for delete entries (equality-delete key files or deletion
    * vectors), false for data files. */
  def isDeleteLine(l: String): Boolean = isDelLine(l) || isDvLine(l)
  def isDelLine(l: String): Boolean = l.startsWith(DelPrefix)
  def isDvLine(l: String): Boolean = l.startsWith(DvPrefix)

  /** Raw path of a line, marker or not. */
  def lineFile(l: String): String = l.stripPrefix(DelPrefix).stripPrefix(DvPrefix)

  /** One ledger line for an ingested source file / a source root's
    * watermark. Tab-separated — paths may contain anything but
    * tabs/newlines (enforced here, loudly). */
  def ingestLine(mtime: Long, path: String): String = ledger(IngestHeader, mtime, path)
  def ingestWmLine(mtime: Long, root: String): String = ledger(IngestWmHeader, mtime, root)

  private def ledger(header: String, mtime: Long, path: String): String = {
    require(!path.contains("\t") && !path.contains("\n"),
      s"unsupported control character in ingest path '$path'")
    s"$header$mtime\t$path"
  }
}
