package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Snapshot / time-travel table layer over plain parquet — the Iceberg
  * table-format semantics the reference's DDL declares
  * (`job1-DDL_Load_Data_Spark_Iceberg.py:223-275` creates `USING iceberg`
  * tables) re-expressed Spark-first, with no Iceberg jar: immutable data
  * files + versioned manifests + an atomic commit protocol.
  *
  * Layout under one table root:
  *   - `data/v{N}-{i}.parquet` — immutable; a commit only ADDS files,
  *     never mutates or deletes one (expire is the only deleter).
  *   - `meta/v{N}.manifest` — the MANIFEST LIST pinning snapshot N:
  *     header + `segment=` references (plus small inline delete/col/spec
  *     state). Legacy manifests with inline `file=` lines still parse.
  *   - `meta/v{N}-{nonce}.seg` — immutable manifest SEGMENTS: batches of
  *     data-file entries shared across snapshots by reference, so a
  *     commit writes O(changed files) metadata, not O(table).
  *   - `meta/_current` — advisory pointer to the latest version.
  *
  * Commit protocol (optimistic concurrency, single-filesystem): stage
  * data files, then publish the manifest with an atomic CREATE_NEW move —
  * two racing writers for version N cannot both win; the loser gets a
  * conflict exception and retries against the new current. Readers pin a
  * manifest and never see a half-commit: manifests are immutable and the
  * files they list are immutable, so a snapshot read is stable against
  * ANY concurrent writer — the property directory-listing parquet tables
  * fundamentally lack.
  *
  * What this buys at 100 TB:
  *   - time travel (`readAt`) and O(1) `rollback` — old snapshots stay
  *     readable until `expire` reclaims their unreferenced files;
  *   - copy-on-write row-level `deleteWhere` / `merge` that rewrite ONLY
  *     the files containing hit rows (file pruning via the
  *     `_metadata.file_path` lineage column), not the table — and a
  *     MERGE-ON-READ alternative (`deleteWhereMor`) that commits
  *     position-delete files and rewrites nothing;
  *   - schema evolution: a commit may add columns; the manifest records
  *     the evolved schema, old snapshots keep their old shape;
  *   - manifest-pinned scans: planning reads one manifest, not a
  *     recursive directory listing over millions of files — and the
  *     manifest pins the schema too, so opening a snapshot reads no
  *     parquet footer and starts no Spark job.
  *
  * Manifests are line-oriented key=value text (no JSON library in the
  * offline build): `version/op/nRows/schema` headers + one `file=` line
  * per data file, paths relative to the root so the table relocates.
  */
object SnapshotLake {

  /** One immutable data file plus its manifest-recorded statistics: row
    * count and min/max of the table's declared stats column(s). Stats
    * are read once from the parquet footer at stage time and live in the
    * manifest from then on — scan planning prunes files WITHOUT opening
    * them, the file-skipping half of the Iceberg contract. `min`/`max`
    * are the PRIMARY stats column's range (the one [[compact]] keeps
    * range-disjoint); `more` carries one (min, max) pair per ADDITIONAL
    * declared stats column, in declaration order — Iceberg keeps
    * per-column stats, and [[readRangeOn]] skips on any of them. */
  final case class FileEntry(path: String, rows: Long,
                             min: Option[Long], max: Option[Long],
                             more: Seq[(Option[Long], Option[Long])] =
                               Seq.empty,
                             nulls: Seq[Option[Long]] = Seq.empty) {
    def serialized: String = {
      def f(o: Option[Long]) = o.fold("")(_.toString)
      val head = (s"$path|$rows|${f(min)}|${f(max)}" +:
        more.map { case (mn, mx) => s"${f(mn)}|${f(mx)}" }).mkString("|")
      // null counts (one per declared stats column, aligned with
      // [[statsColsOf]]) ride behind an `N` sentinel so pre-null-stats
      // manifests still parse — a value field is always numeric or empty
      if (nulls.isEmpty) head
      else head + "|N|" + nulls.map(f).mkString("|")
    }
  }

  private def parseEntry(s: String): FileEntry = {
    def o(x: String) = if (x.isEmpty) None else Some(x.toLong)
    // limit -1: trailing empty fields (a stats-less extra column) must
    // survive the split or pair alignment silently shifts
    s.split("\\|", -1) match {
      case Array(p, r, mn, mx, rest @ _*) =>
        val (pairPart, nullPart) = rest.span(_ != "N")
        if (pairPart.size % 2 != 0) FileEntry(s, -1L, None, None)
        else FileEntry(p, r.toLong, o(mn), o(mx),
          pairPart.grouped(2).map { case Seq(a, b) => (o(a), o(b)) }.toSeq,
          nullPart.drop(1).map(o).toSeq)
      case Array(p, r) => FileEntry(p, r.toLong, None, None)
      case _ => FileEntry(s, -1L, None, None) // legacy bare-path line
    }
  }

  /** One logical column of an ID-BASED table: a stable field id (never
    * reused), its CURRENT name, and its type DDL. Ids are written into
    * every staged parquet file's schema (`parquet.field.id`, the same
    * mechanism Iceberg uses) and reads resolve columns by id — which is
    * what makes rename a metadata-only commit and makes a re-added name
    * a genuinely NEW column that never resurfaces dropped data. */
  final case class ColumnDef(id: Int, name: String, typeDdl: String) {
    def serialized: String = s"$id|$name|$typeDdl"
  }

  private def parseCol(s: String): ColumnDef = {
    // type DDL may itself contain '|'? No parquet-expressible Spark type
    // DDL does, but split with a limit anyway so the type keeps any tail
    val Array(id, name, ty) = s.split("\\|", 3)
    ColumnDef(id.toInt, name, ty)
  }

  /** An Iceberg-style EQUALITY-DELETE file: a parquet of key VALUES
    * (`keyCols`) whose matching rows are invisible — but only in data
    * files committed at or before `version` (Iceberg's sequence-number
    * rule: a later append legitimately re-inserts the same key). The
    * write needs NO positions and therefore no data scan — the shape a
    * streaming upsert/erasure ingest needs at 100 TB. */
  final case class EqDelete(file: FileEntry, keyCols: Seq[String],
                            version: Int) {
    def serialized: String =
      s"${file.serialized}|${keyCols.mkString(",")}|$version"
  }

  private def parseEqDelete(s: String): EqDelete = s.split('|') match {
    case Array(p, r, mn, mx, ks, v) =>
      EqDelete(FileEntry(p, r.toLong,
        if (mn.isEmpty) None else Some(mn.toLong),
        if (mx.isEmpty) None else Some(mx.toLong)),
        ks.split(',').toSeq, v.toInt)
    case _ => sys.error(s"unparseable eqdelete entry: $s")
  }

  /** One PARTITION SPEC of the table — Iceberg's partition-evolution
    * unit. A spec is a transform over one column; files record which
    * spec they were written under plus their single partition VALUE, and
    * specs never change once assigned — evolution ADDS a spec and
    * repoints the default, so files written under an older spec keep
    * their own layout and simply stop pruning on the new transform
    * (scans stay correct: pruning is lossy-never, the residual predicate
    * still applies). Transforms are deliberately engine-replayable:
    * `identity(col)`, `mod(n, col)` (the deterministic stand-in for
    * Iceberg's murmur bucket, which no second engine reproduces),
    * `truncate(w, col)` (Iceberg's string truncate: the first w chars —
    * `substr` in any engine), and the date family `year/month/day(col)`
    * (Iceberg's temporal transforms — `date_trunc`/`strftime` in any
    * engine; what an append-only log evolves TO in practice). */
  final case class PartSpec(id: Int, kind: String, n: Int, colName: String) {
    def serialized: String = s"$id|$kind|$n|$colName"
    /** The transform as a STRING-valued column — one representation for
      * every transform kind, so partition values compare uniformly. */
    def expr: Column = kind match {
      case "identity" => col(colName).cast("string")
      case "mod"      => pmod(col(colName), lit(n.toLong)).cast("string")
      case "truncate" => substring(col(colName).cast("string"), 1, n)
      case "year"     => date_format(col(colName), "yyyy")
      case "month"    => date_format(col(colName), "yyyy-MM")
      case "day"      => date_format(col(colName), "yyyy-MM-dd")
      case "hour"     => date_format(col(colName), "yyyy-MM-dd-HH")
      case k          => sys.error(s"unknown partition transform: $k")
    }
    def describe: String = kind match {
      case "identity"         => s"identity($colName)"
      case "mod"              => s"mod($n,$colName)"
      case "truncate"         => s"truncate($n,$colName)"
      case "year" | "month" | "day" | "hour" => s"$kind($colName)"
    }
  }

  private def parsePartSpec(s: String): PartSpec = {
    val Array(id, kind, n, cn) = s.split("\\|", 4)
    PartSpec(id.toInt, kind, n.toInt, cn)
  }

  /** One immutable MANIFEST SEGMENT: a named batch of data-file entries
    * (plus their partition info) stored in its own `.seg` file under
    * `meta` —
    * Iceberg's manifest-file / manifest-list split re-expressed on the
    * line-oriented store. Segments are write-once: a commit REUSES the
    * parent's segments by reference (one `segment=` line each) and
    * writes only its DELTA as one new segment, so commit metadata is
    * O(changed files), not O(table) — at 100 TB (~10⁶ live files) an
    * append stops paying a full-file-list serialization and the driver
    * stops re-parsing unchanged entries ([[segCache]]). */
  final case class Segment(name: String, files: Seq[FileEntry],
                           partInfo: Map[String, (Int, String)])

  /** `deletes` are Iceberg-style POSITION-DELETE files: each is a parquet
    * of (df = data-file basename, pos = row index in that file) rows.
    * Data files they reference stay byte-identical on disk — a MOR
    * delete commit only ADDS a delete file; readers subtract the
    * positions at scan time ([[open]]). `eqDeletes` are the
    * EQUALITY-DELETE siblings ([[EqDelete]]).
    *
    * `cols` non-empty marks an ID-BASED table ([[ColumnDef]]); empty
    * means the original name-resolved table (every pre-existing manifest
    * parses as one). */
  final case class Snapshot(version: Int, op: String, nRows: Long,
                            schemaDdl: String, statsCol: Option[String],
                            files: Seq[FileEntry],
                            deletes: Seq[FileEntry] = Seq.empty,
                            cols: Seq[ColumnDef] = Seq.empty,
                            eqDeletes: Seq[EqDelete] = Seq.empty,
                            /** Lineage: the snapshot this one was built
                              * on. Explicit `parent=` line when present;
                              * legacy linear manifests default to v−1
                              * (exact for every pre-refs history, where
                              * all commits chained through main). */
                            parent: Int = -1,
                            /** Every partition spec ever added (specs are
                              * immutable; evolution appends). */
                            specs: Seq[PartSpec] = Seq.empty,
                            /** Spec id new appends write under; −1 =
                              * unpartitioned. */
                            defaultSpec: Int = -1,
                            /** path → (specId, partitionValue) for files
                              * written under a spec; files absent here
                              * (pre-spec eras, restaged COW output) are
                              * simply never pruned by partition. */
                            partInfo: Map[String, (Int, String)] =
                              Map.empty,
                            /** The manifest segments this snapshot
                              * references, in manifest order; `files` /
                              * `partInfo` above are already the flattened
                              * union (segments first, then any inline
                              * legacy entries). Kept so [[commit]] can
                              * reuse unchanged segments by reference. */
                            segments: Seq[Segment] = Seq.empty) {
    def paths: Seq[String] = files.map(_.path)
    /** Every file the snapshot pins — data AND delete files — for
      * expire/reclaim accounting. */
    def allPaths: Seq[String] =
      paths ++ deletes.map(_.path) ++ eqDeletes.map(_.file.path)
    def idBased: Boolean = cols.nonEmpty
  }

  // ---- metadata ------------------------------------------------------------

  private def metaDir(root: String): Path = Paths.get(root, "meta")
  private def dataDir(root: String): Path = Paths.get(root, "data")

  def currentVersion(root: String): Int = {
    val m = metaDir(root)
    if (!Files.isDirectory(m)) 0
    else {
      val s = Files.list(m)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toInt }
        .foldLeft(0)(math.max)
      finally s.close()
    }
  }

  /** The MAIN ref's version — what `read` and every main-chain mutation
    * build on. Follows the `_current` pointer when present (every commit
    * through main writes it); falls back to the max manifest number for
    * pre-pointer tables. The distinction matters once BRANCHES exist:
    * branch commits claim global snapshot numbers past main's head, so
    * "latest manifest" stops meaning "main". */
  def mainVersion(root: String): Int = {
    val cur = metaDir(root).resolve("_current")
    if (Files.exists(cur)) Files.readString(cur).trim.toInt
    else currentVersion(root)
  }

  /** Content base + head snapshot + claim number for a main-chain
    * mutation: content comes from the main ref, the claimed snapshot
    * number from the GLOBAL max (branch snapshots share the number
    * space), so staged file names and the committed version agree. */
  private def mainMutationCtx(root: String): (Int, Snapshot, Int) = {
    val base = mainVersion(root)
    (base, snapshot(root, base), currentVersion(root) + 1)
  }

  /** Parsed-segment cache: segments are IMMUTABLE once published, so a
    * (path, size) key can never serve stale content — repeated snapshot
    * reads of a long-lived table re-parse only the manifest list plus
    * any segment seen for the first time, never the whole file list.
    * Bounded by a full clear past a fixed entry count (reloading is
    * always correct, just slower). */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Segment]()

  private def loadSegment(root: String, name: String): Segment = {
    val p = metaDir(root).resolve(name)
    val key = s"${p.toAbsolutePath.normalize}|${Files.size(p)}"
    val hit = segCache.get(key)
    if (hit != null) hit
    else {
      val lines = Files.readAllLines(p).asScala.toSeq
      val seg = Segment(name,
        lines.filter(_.startsWith("file=")).map(l => parseEntry(l.drop(5))),
        lines.filter(_.startsWith("pfile=")).map { l =>
          val Array(sid, pv, path) = l.drop(6).split("\\|", 3)
          path -> (sid.toInt, pv)
        }.toMap)
      if (segCache.size > 8192) segCache.clear()
      segCache.put(key, seg)
      seg
    }
  }

  def snapshot(root: String, version: Int): Snapshot = {
    val p = metaDir(root).resolve(s"v$version.manifest")
    require(Files.exists(p),
      s"snapshot v$version does not exist (expired or never committed)")
    val lines = Files.readAllLines(p).asScala.toSeq
    def field(k: String): String = lines.find(_.startsWith(s"$k="))
      .map(_.drop(k.length + 1))
      .getOrElse(sys.error(s"manifest v$version missing $k"))
    val statsCol = lines.find(_.startsWith("stats="))
      .map(_.drop(6)).filter(_.nonEmpty)
    val ver = field("version").toInt
    val segs = lines.filter(_.startsWith("segment="))
      .map(l => loadSegment(root, l.drop(8)))
    Snapshot(ver, field("op"), field("nRows").toLong,
      field("schema"), statsCol,
      segs.flatMap(_.files) ++
        lines.filter(_.startsWith("file=")).map(l => parseEntry(l.drop(5))),
      lines.filter(_.startsWith("delete=")).map(l => parseEntry(l.drop(7))),
      lines.filter(_.startsWith("col=")).map(l => parseCol(l.drop(4))),
      lines.filter(_.startsWith("eqdelete="))
        .map(l => parseEqDelete(l.drop(9))),
      lines.find(_.startsWith("parent=")).map(_.drop(7).toInt)
        .getOrElse(ver - 1),
      lines.filter(_.startsWith("spec=")).map(l => parsePartSpec(l.drop(5))),
      lines.find(_.startsWith("defaultspec=")).map(_.drop(12).toInt)
        .getOrElse(-1),
      segs.map(_.partInfo).foldLeft(Map.empty[String, (Int, String)])(_ ++ _)
        ++ lines.filter(_.startsWith("pfile=")).map { l =>
          val Array(sid, pv, p) = l.drop(6).split("\\|", 3)
          p -> (sid.toInt, pv)
        }.toMap,
      segs)
  }

  /** Max manifest segments a snapshot may reference before a commit
    * coalesces the file list into one fresh segment (the metadata-LSM
    * merge bound — see the segment-reuse block in [[commit]]). */
  private val SEG_CAP = 64

  /** Commit `files` as a NEW snapshot built on content base `prev` (the
    * recorded lineage parent). The claimed number is global-max + 1 —
    * snapshot numbers are one space shared by main and every branch (the
    * Iceberg model: snapshots are global, REFS select). Publishing is a
    * hard-link claim on a CREATE_NEW target: if another writer claimed
    * the same number first, the link fails and the caller gets a
    * conflict — never a corrupted table. `advanceMain=false` leaves the
    * main pointer untouched (branch commits). */
  private[graft] def commit(root: String, prev: Int, op: String, nRows: Long,
                            schemaDdl: String, statsCol: Option[String],
                            files: Seq[FileEntry],
                            deletes: Seq[FileEntry] = Seq.empty,
                            cols: Seq[ColumnDef] = Seq.empty,
                            eqDeletes: Seq[EqDelete] = Seq.empty,
                            advanceMain: Boolean = true,
                            claim: Int = -1,
                            newPartInfo: Map[String, (Int, String)] =
                              Map.empty,
                            specsOverride: Option[(Seq[PartSpec], Int)] =
                              None): Int = {
    // claim number: explicit (branch-aware flows pass currentVersion+1,
    // matching their staged file names) or the legacy linear parent+1
    val v = if (claim > 0) claim else prev + 1
    // Partition-spec metadata INHERITS through every commit (specs are
    // table-level state like the stats column, and threading them through
    // 15 call sites invites a silent drop): the parent's specs/default
    // carry forward unless the evolve op overrides, and per-file
    // partition values survive for exactly the files still present —
    // restaged (COW) files fall out of partInfo and simply stop pruning,
    // which is the lossy-never direction.
    val parentSnap =
      if (prev > 0 &&
        Files.exists(metaDir(root).resolve(s"v$prev.manifest")))
        Some(snapshot(root, prev))
      else None
    val (specs, defSpec) = specsOverride.getOrElse(
      parentSnap.map(p => (p.specs, p.defaultSpec)).getOrElse((Seq.empty, -1)))
    val keep = files.map(_.path).toSet
    val partInfo =
      (parentSnap.map(_.partInfo).getOrElse(Map.empty) ++ newPartInfo)
        .filter { case (p, _) => keep(p) }
    Files.createDirectories(metaDir(root))
    // --- O(delta) metadata: segment reuse ---------------------------------
    // Parent segments whose files ALL survive are referenced unchanged
    // (one `segment=` line each — zero bytes rewritten, zero re-parse on
    // read thanks to segCache); everything else (new files + survivors of
    // partially-invalidated segments) lands in ONE new segment. Past
    // SEG_CAP referenced segments the commit coalesces the full list into
    // one segment — the LSM-style amortization that bounds both the
    // manifest-list length and read fan-out at O(SEG_CAP) while keeping
    // per-commit writes O(delta + table/SEG_CAP) amortized.
    val parentSegs = parentSnap.map(_.segments).getOrElse(Seq.empty)
    val keptSegs0 = parentSegs.filter(_.files.forall(f => keep(f.path)))
    val covered = keptSegs0.flatMap(_.files.map(_.path)).toSet
    val fresh = files.filter(f => !covered(f.path))
    val (keptSegs, toWrite) =
      if (keptSegs0.size >= SEG_CAP) (Seq.empty[Segment], files)
      else (keptSegs0, fresh)
    def pfileLine(p: String, sid: Int, pv: String): String = {
      require(!pv.contains("|") && !pv.contains("\n"),
        s"partition value not serializable: $pv")
      s"pfile=$sid|$pv|$p"
    }
    val newSegName =
      if (toWrite.isEmpty) None
      else {
        val name = s"v$v-${stageNonce()}.seg"
        val segBody = toWrite.flatMap { f =>
          s"file=${f.serialized}" +:
            partInfo.get(f.path).toSeq.map { case (sid, pv) =>
              pfileLine(f.path, sid, pv)
            }
        }.mkString("", "\n", "\n")
        val segTmp = metaDir(root).resolve(s".$name.tmp")
        Files.writeString(segTmp, segBody)
        Files.move(segTmp, metaDir(root).resolve(name),
          StandardCopyOption.ATOMIC_MOVE)
        Some(name)
      }
    val body =
      (Seq(s"version=$v", s"op=$op", s"nRows=$nRows", s"schema=$schemaDdl",
        s"stats=${statsCol.getOrElse("")}", s"parent=$prev") ++
        (keptSegs.map(_.name) ++ newSegName).map(n => s"segment=$n") ++
        deletes.map(f => s"delete=${f.serialized}") ++
        cols.map(c => s"col=${c.serialized}") ++
        eqDeletes.map(e => s"eqdelete=${e.serialized}") ++
        specs.map(sp => s"spec=${sp.serialized}") ++
        (if (defSpec >= 0) Seq(s"defaultspec=$defSpec") else Seq.empty))
        .mkString("", "\n", "\n")
    val tmp = metaDir(root).resolve(s".v$v.tmp")
    Files.writeString(tmp, body)
    val target = metaDir(root).resolve(s"v$v.manifest")
    // publish via hard link, NOT rename: POSIX rename(2) silently replaces
    // an existing target, so ATOMIC_MOVE cannot detect a lost race — link
    // is atomic AND fails loudly when the version already exists
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          s"commit conflict: snapshot v$v was published by a concurrent " +
            "writer — re-read current and retry")
    }
    Files.deleteIfExists(tmp)
    if (advanceMain) setMainPointer(root, v)
    v
  }

  /** Atomically repoint main at `v` (tmp + rename — last writer wins,
    * which is correct for a pointer). */
  private def setMainPointer(root: String, v: Int): Unit = {
    val cur = metaDir(root).resolve("_current")
    val curTmp = metaDir(root).resolve("._current.tmp")
    Files.writeString(curTmp, v.toString)
    Files.move(curTmp, cur, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The two parquet field-id confs id-based tables need. They are set
    * STICKY (never restored): both are no-ops for schemas carrying no
    * `parquet.field.id` metadata — only this layer's id-tables do — and
    * a restore would silently break LAZY reads, because Spark consults
    * the conf at action time, not when `spark.read` builds the plan
    * (empirically: a plan built with the conf on and collected after a
    * restore resolves by NAME and returns nulls for renamed columns). */
  private def ensureFieldIdConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
  }

  /** Re-alias every column that has a [[ColumnDef]] so its
    * `parquet.field.id` lands in the staged parquet schema. */
  private def withFieldIds(df: DataFrame, cols: Seq[ColumnDef]): DataFrame =
    if (cols.isEmpty) df
    else {
      val byName = cols.map(c => c.name -> c.id).toMap
      df.select(df.schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(id) =>
            val m = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong)
              .build()
            col(f.name).as(f.name, m)
          case None => col(f.name)
        }
      }.toSeq: _*)
    }

  /** Per-stage nonce folded into every staged file name: with branch
    * commits, two writers can stage under the SAME guessed version
    * number (each computed its own head) — without a uniquifier the
    * second ATOMIC_MOVE would silently overwrite the first's committed
    * bytes. Names are opaque (manifests pin paths), so uniqueness is the
    * only requirement. */
  private def stageNonce(): String =
    java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong() >>> 40)

  /** Stage a DataFrame's rows as immutable data files for version `v`;
    * returns their manifest entries. The write lands in a scratch dir,
    * then each part renames into `data/` — readers never list a
    * half-written directory because readers never list at all (manifests
    * pin files). `tag` marks delete files in their names
    * (`data/v{N}-{nonce}-del-{i}.parquet`). */
  private def stage(df0: DataFrame, root: String, v: Int,
                    statsCol: Option[String], cols: Seq[ColumnDef] = Seq.empty,
                    tag: String = ""): Seq[FileEntry] = {
    val nonce = stageNonce()
    val df = withFieldIds(df0, cols)
    if (cols.nonEmpty) ensureFieldIdConfs(df.sparkSession)
    val scratch = Paths.get(root, s".stage-v$v-$nonce")
    df.write.mode("overwrite").parquet(scratch.toString)
    Files.createDirectories(dataDir(root))
    // the writer emits a part file per task INCLUDING empty partitions;
    // an empty file in a manifest is metadata bloat and breaks COW/expire
    // accounting (it can never be "hit", so it carries forever) — drop
    // zero-row parts via the parquet footer before publishing. The same
    // footer read harvests the stats column's min/max into the manifest.
    val parts = {
      val s = Files.list(scratch)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
        .map(p => (p, footerStats(p, statsCol)))
        .filter(_._2._1 > 0)
      finally s.close()
    }
    val named = parts.zipWithIndex.map { case ((p, (rows, pairs, nulls)), i) =>
      val rel = s"data/v$v-$nonce-$tag$i.parquet"
      Files.move(p, Paths.get(root, rel), StandardCopyOption.ATOMIC_MOVE)
      entryOf(rel, rows, pairs, nulls)
    }
    deleteRecursively(scratch)
    named
  }

  /** The declared stats columns behind a manifest `stats=` value — a
    * comma-separated list; the FIRST is the primary column ([[compact]]
    * range-disjointness, legacy [[readRange]]), the rest are additional
    * per-column skipping indexes ([[readRangeOn]]). */
  private def statsColsOf(statsCol: Option[String]): Seq[String] =
    statsCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** (rowCount, per-stats-column (min, max), per-stats-column null
    * count) from the parquet footer — one metadata read, no data pages
    * touched. Min/max fold across row groups; integral physical types
    * only (the stats contract here). Null counts sum across row groups
    * and go UNKNOWN (None) if any group left numNulls unset — lossy-
    * never, like the ranges. Both Seqs are positionally aligned with
    * [[statsColsOf]]. */
  private def footerStats(p: Path, statsCol: Option[String])
      : (Long, Seq[(Option[Long], Option[Long])], Seq[Option[Long]]) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      val cols = statsColsOf(statsCol)
      val pairs = cols.map { c =>
        val ranges = r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .map(_.getStatistics)
            .collect {
              case st if st != null && !st.isEmpty =>
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: Number, mx: Number) =>
                    Some((mn.longValue, mx.longValue))
                  case _ => None
                }
            }.flatten
        }
        if (ranges.isEmpty) (None, None)
        else (Some(ranges.map(_._1).min): Option[Long],
          Some(ranges.map(_._2).max): Option[Long])
      }
      val nulls = cols.map { c =>
        val perBlock = r.getFooter.getBlocks.asScala.map { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .map(_.getStatistics) match {
            case Some(st) if st != null && st.isNumNullsSet =>
              Some(st.getNumNulls)
            case _ => None
          }
        }
        if (perBlock.exists(_.isEmpty)) None
        else Some(perBlock.flatten.sum): Option[Long]
      }
      (rows, pairs, nulls)
    } finally r.close()
  }

  /** Build a [[FileEntry]] from a footer read: first stats pair primary,
    * the rest `more`; null counts aligned with the declared columns. */
  private def entryOf(rel: String, rows: Long,
                      pairs: Seq[(Option[Long], Option[Long])],
                      nulls: Seq[Option[Long]]): FileEntry = {
    val (mn, mx) = pairs.headOption.getOrElse((None, None))
    FileEntry(rel, rows, mn, mx, pairs.drop(1), nulls)
  }

  // ---- writes --------------------------------------------------------------

  private def ddlOf(cols: Seq[ColumnDef]): String =
    cols.map(c => s"`${c.name}` ${c.typeDdl}").mkString(",")

  /** Id assignment for schema evolution: existing columns keep their id,
    * genuinely new names get FRESH ids past the historical maximum — an
    * id is never reused, so a column dropped and re-added under the same
    * name cannot resurface old data. `maxEverId` must be the max over
    * ALL history (not just live columns), tracked as the running max so
    * drops don't free ids; it is by-name because only id-based tables
    * need it, and computing it parses every retained manifest. */
  private def evolvedCols(cols: Seq[ColumnDef], maxEverId: => Int,
                          next: StructType): Seq[ColumnDef] =
    if (cols.isEmpty) Seq.empty
    else {
      val have = cols.map(_.name).toSet
      var nid = maxEverId
      cols ++ next.fields.filterNot(f => have(f.name)).map { f =>
        nid += 1; ColumnDef(nid, f.name, f.dataType.sql)
      }
    }

  /** Max field id ever assigned in this table's history — scans every
    * live manifest (ids must not be reused even after a drop + expire of
    * the assigning snapshot; the running max over retained manifests is
    * the conservative floor). */
  private def maxEverId(root: String, cur: Int): Int =
    retainedSnapshots(root, 1 to cur).flatMap(_.cols.map(_.id))
      .foldLeft(0)(math.max)

  /** The snapshots among `versions` whose manifests still parse — the
    * rest were expired (or never published). */
  private def retainedSnapshots(root: String,
                                versions: Seq[Int]): Seq[Snapshot] =
    versions.flatMap { v =>
      try Some(snapshot(root, v)) catch { case _: Exception => None }
    }

  /** Create the table (version 1). `statsCol` names an integral column
    * whose per-file min/max every commit records in its manifest — the
    * file-skipping index (see [[readRange]]). `columnIds = true` makes
    * the table ID-BASED: every column gets a stable field id written
    * into the parquet schema, reads resolve by id, and
    * [[renameColumn]]/[[dropColumn]] become metadata-only commits.
    * Fails if the table already has snapshots. */
  def create(df: DataFrame, root: String,
             statsCol: Option[String] = None,
             columnIds: Boolean = false): Int = {
    require(currentVersion(root) == 0, s"table at $root already exists")
    val cols =
      if (!columnIds) Seq.empty
      else df.schema.fields.zipWithIndex.map { case (f, i) =>
        ColumnDef(i + 1, f.name, f.dataType.sql)
      }.toSeq
    val files = stage(df, root, 1, statsCol, cols)
    commit(root, 0, "create", files.map(_.rows).sum, df.schema.toDDL,
      statsCol, files, Seq.empty, cols)
  }

  /** Append-only commit: previous files all carry over, the batch's files
    * add on. The batch may ADD columns (schema evolution) — the manifest
    * records the evolved schema (ids on id-based tables), older rows read
    * them as null and older snapshots keep their shape. */
  def append(spark: SparkSession, df: DataFrame, root: String): Int = {
    val (prev, snap, claim) = mainMutationCtx(root)
    val cols = evolvedCols(snap.cols, maxEverId(root, prev), df.schema)
    // a table with a default partition spec lays the batch out under it;
    // files from earlier specs (or the unpartitioned era) are untouched —
    // THE partition-evolution contract: layout changes apply forward only
    val (files, pinfo) = snap.specs.find(_.id == snap.defaultSpec) match {
      case Some(spec) =>
        stagePartitioned(df, root, claim, spec, snap.statsCol, cols)
      case None => (stage(df, root, claim, snap.statsCol, cols),
        Map.empty[String, (Int, String)])
    }
    val schema = if (snap.idBased) ddlOf(cols)
                 else mergedDdl(snap.schemaDdl, df.schema)
    commit(root, prev, "append", snap.nRows + files.map(_.rows).sum, schema,
      snap.statsCol, snap.files ++ files, snap.deletes, cols,
      snap.eqDeletes, claim = claim, newPartInfo = pinfo)
  }

  /** PARTITION EVOLUTION — the metadata-only commit that changes how
    * FUTURE appends lay data out, without touching a byte of existing
    * data (Iceberg's spec-evolution rule). The new spec gets a fresh id;
    * earlier specs stay in the manifest because the files written under
    * them still carry their values and still prune on THEIR transform.
    * `kind` = "identity" (n ignored), "mod" (value % n), "truncate"
    * (first n chars), or "year"/"month"/"day" (temporal, n ignored). */
  def evolvePartitionSpec(root: String, kind: String, colName: String,
                          n: Int = 0): Int = {
    require(
      Set("identity", "mod", "truncate", "year", "month", "day", "hour")(kind),
      s"unknown partition transform kind: $kind")
    require(kind != "mod" && kind != "truncate" || n >= 1,
      s"$kind transform requires n >= 1, got $n")
    val (prev, snap, claim) = mainMutationCtx(root)
    val id = (snap.specs.map(_.id) :+ 0).max + 1
    val spec = PartSpec(id, kind, n, colName)
    commit(root, prev, s"evolve-spec[${spec.describe}]", snap.nRows,
      snap.schemaDdl, snap.statsCol, snap.files, snap.deletes, snap.cols,
      snap.eqDeletes, claim = claim,
      specsOverride = Some((snap.specs :+ spec, id)))
  }

  /** Stage `df` laid out by `spec`: one staged file per partition value
    * (hash-repartition on the transform keeps a value on one task;
    * `partitionBy` splits tasks by value), each recorded in the manifest
    * with its (specId, value) — the metadata [[prunePartition]] skips
    * files by. The transform column is derived for layout only and never
    * lands in the data pages. */
  private def stagePartitioned(df0: DataFrame, root: String, v: Int,
                               spec: PartSpec, statsCol: Option[String],
                               cols: Seq[ColumnDef])
      : (Seq[FileEntry], Map[String, (Int, String)]) = {
    val nonce = stageNonce()
    val df = withFieldIds(df0, cols)
    if (cols.nonEmpty) ensureFieldIdConfs(df.sparkSession)
    val scratch = Paths.get(root, s".stage-v$v-$nonce-p")
    df.withColumn("_pval", spec.expr)
      .repartition(col("_pval"))
      .write.mode("overwrite").partitionBy("_pval")
      .parquet(scratch.toString)
    Files.createDirectories(dataDir(root))
    val subdirs = {
      val s = Files.list(scratch)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("_pval="))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
    var i = 0
    val staged = subdirs.flatMap { sub =>
      // partitionBy PERCENT-escapes values into the directory name
      // (Hive path escaping). Crucially it does NOT encode '+', so a
      // URLDecoder round-trip would corrupt a literal '+' into a space
      // and prunePartition would then silently skip the file that holds
      // the matching rows. Decode with Spark's own inverse instead.
      val pval = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(sub.getFileName.toString.drop("_pval=".length))
      val parts = {
        val s = Files.list(sub)
        try s.iterator().asScala.toSeq
          .filter(_.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
          .map(p => (p, footerStats(p, statsCol)))
          .filter(_._2._1 > 0)
        finally s.close()
      }
      parts.map { case (p, (rows, pairs, nulls)) =>
        val rel = s"data/v$v-$nonce-$i.parquet"
        i += 1
        Files.move(p, Paths.get(root, rel), StandardCopyOption.ATOMIC_MOVE)
        (entryOf(rel, rows, pairs, nulls), rel -> (spec.id, pval))
      }
    }
    deleteRecursively(scratch)
    (staged.map(_._1), staged.map(_._2).toMap)
  }

  /** Manifest-level PARTITION pruning under the CURRENT default spec:
    * files recorded under it with a different value are skipped; files
    * from earlier specs (or none) are kept — pruning is lossy-never, the
    * caller's residual predicate restores exactness. */
  private[graft] def prunePartition(snap: Snapshot,
                                    value: String): Seq[FileEntry] =
    snap.files.filter { f =>
      snap.partInfo.get(f.path) match {
        case Some((sid, pv)) if sid == snap.defaultSpec => pv == value
        case _ => true
      }
    }

  /** The rows whose CURRENT-spec transform equals `value`, scanning only
    * the files partition pruning keeps: exact pruning for files written
    * under the current spec, fall-through + residual filter for earlier
    * eras — correctness never depends on WHEN a file was written, only
    * scan cost does (new data prunes; old data re-prunes after a
    * compaction rewrites it under the current spec). */
  def readPartition(spark: SparkSession, root: String,
                    value: String): DataFrame = {
    val snap = snapshot(root, mainVersion(root))
    val spec = snap.specs.find(_.id == snap.defaultSpec).getOrElse(
      sys.error(s"table at $root has no partition spec — " +
        "evolvePartitionSpec first"))
    openFiles(spark, root, snap, prunePartition(snap, value))
      .filter(spec.expr === lit(value))
  }

  /** Metadata-only RENAME on an id-based table: a new snapshot with the
    * same files and deletes, whose column keeps its field id under a new
    * name. Existing data files are untouched — reads resolve the id, so
    * rows written under the OLD name surface under the new one, and
    * time-traveling to a pre-rename snapshot still shows the old name. */
  def renameColumn(root: String, from: String, to: String): Int = {
    val (prev, snap, claim) = mainMutationCtx(root)
    require(snap.idBased, s"table at $root is not id-based " +
      "(create(..., columnIds = true))")
    require(snap.cols.exists(_.name == from), s"no column '$from'")
    require(!snap.cols.exists(_.name == to), s"column '$to' already exists")
    val cols = snap.cols.map(c => if (c.name == from) c.copy(name = to) else c)
    commit(root, prev, s"rename[$from->$to]", snap.nRows, ddlOf(cols),
      // the stats declaration may be a LIST — rename the component
      snap.statsCol.map(sc => statsColsOf(Some(sc))
        .map(c => if (c == from) to else c).mkString(",")),
      snap.files, snap.deletes, cols, snap.eqDeletes, claim = claim)
  }

  /** Metadata-only DROP on an id-based table: the column leaves the
    * schema; its data stays in the files (old snapshots still read it)
    * until compaction rewrites them. Its field id is never reused, so a
    * later add of the same name is a fresh, all-null column. */
  def dropColumn(root: String, name: String): Int = {
    val (prev, snap, claim) = mainMutationCtx(root)
    require(snap.idBased, s"table at $root is not id-based " +
      "(create(..., columnIds = true))")
    require(snap.cols.exists(_.name == name), s"no column '$name'")
    require(snap.cols.size > 1, "cannot drop the last column")
    require(!statsColsOf(snap.statsCol).contains(name),
      s"'$name' is a stats column — not droppable")
    val cols = snap.cols.filterNot(_.name == name)
    commit(root, prev, s"drop[$name]", snap.nRows, ddlOf(cols),
      snap.statsCol, snap.files, snap.deletes, cols, snap.eqDeletes,
      claim = claim)
  }

  /** WRITE-AUDIT-PUBLISH: the quality-gated append. The batch's files
    * stage as normal, but the audit runs against the STAGED FILES (the
    * exact bytes that would publish — not the incoming plan, which could
    * be nondeterministic) BEFORE the manifest commits. Violations remove
    * the staged files and leave the table bit-identical — readers can
    * never observe an unaudited row, because visibility IS the manifest.
    * This is the pattern a lake runs between ingestion and consumers:
    * land → validate (row counts, null keys, RI, drift) → publish or
    * discard — the snapshot-format upgrade of the reference's
    * validate-then-write discipline (`job1:69-88` validates DataFrames,
    * but its `saveAsTable` writes are visible the moment they start).
    *
    * @param audit staged-batch DataFrame => violation messages; empty
    *              means publish.
    * @return Left(violations) with the table untouched, or
    *         Right(newVersion). */
  def writeAuditPublish(spark: SparkSession, root: String, df: DataFrame,
                        audit: DataFrame => Seq[String]): Either[Seq[String], Int] = {
    val (prev, snap, claim) = mainMutationCtx(root)
    val cols = evolvedCols(snap.cols, maxEverId(root, prev), df.schema)
    val staged = stage(df, root, claim, snap.statsCol, cols)
    // committed row count comes from the staged parquet footers — the
    // exact bytes that publish — never from re-executing the incoming
    // plan, which costs a second scan and could be nondeterministic
    val n = staged.map(_.rows).sum
    val violations = audit(readFiles(spark, root, byName(df.schema), staged))
    if (violations.nonEmpty) {
      staged.foreach(f => Files.deleteIfExists(Paths.get(root, f.path)))
      Left(violations)
    } else {
      val schema = if (snap.idBased) ddlOf(cols)
                   else mergedDdl(snap.schemaDdl, df.schema)
      Right(commit(root, prev, "append[wap]", snap.nRows + n, schema,
        snap.statsCol, snap.files ++ staged, snap.deletes, cols,
        snap.eqDeletes, claim = claim))
    }
  }

  /** Data-file commit version parsed from the `_df` lineage basename
    * (`v{N}-{i}.parquet`) — the sequence number equality deletes compare
    * against. */
  private def fileVersionExpr: Column =
    regexp_extract(col("_df"), "^v(\\d+)-", 1).cast("int")

  /** Subtract every pending equality delete from a lineage-carrying frame:
    * per delete file, a broadcast anti-join on its key VALUES, restricted
    * to data files committed at or before the delete's version — rows
    * appended later with the same key legitimately survive (Iceberg's
    * sequence-number rule). Key sets are erasure/upsert-sized (tiny next
    * to data), so each anti-join broadcasts. */
  private def subtractEqDeletes(spark: SparkSession, root: String,
                                snap: Snapshot, df0: DataFrame): DataFrame =
    snap.eqDeletes.foldLeft(df0) { (df, e) =>
      val keys = eqDeleteKeys(spark, root, snap, e)
        .toDF(e.keyCols.map(c => s"__eq_$c"): _*)
      val cond = e.keyCols.map(c => df(c) === keys(s"__eq_$c"))
        .reduce(_ && _) && (fileVersionExpr <= lit(e.version))
      df.join(broadcast(keys), cond, "left_anti")
    }

  /** The VISIBLE rows of `files` (pending position and equality deletes
    * subtracted) with the `_df`/`_pos` lineage columns still attached —
    * the shared front half of every row-level write path. */
  private def openVisible(spark: SparkSession, root: String, snap: Snapshot,
                          files: Seq[FileEntry]): DataFrame = {
    val raw = openRaw(spark, root, snap, files)
    val posFree =
      if (snap.deletes.isEmpty) raw
      else {
        val dels = deleteEntries(spark, root, snap.deletes)
        raw.join(dels,
          col("_df") === dels("df") && col("_pos") === dels("pos"),
          "left_anti")
      }
    subtractEqDeletes(spark, root, snap, posFree)
  }

  /** The one Spark action a copy-on-write commit runs before it
    * rewrites: data-file basename → visible `hits` rows in that file.
    * Files a pending position delete references are included with 0
    * hits: entries live mixed inside delete files, so COW ops fold ALL
    * pending deletes in and leave a delete-free snapshot. The keys are
    * the files to rewrite; the values sum to the rows removed. */
  private def census(spark: SparkSession, root: String, snap: Snapshot,
                     hits: Option[DataFrame]): Map[String, Long] = {
    val marks = hits.map(_.select(col("_df"), lit(1L).as("n"))).toSeq ++
      Option.when(snap.deletes.nonEmpty)(
        deleteEntries(spark, root, snap.deletes)
          .select(col("df").as("_df"), lit(0L).as("n")))
    if (marks.isEmpty) Map.empty
    else marks.reduce(_ unionByName _).groupBy("_df").agg(sum("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def baseName(p: String): String = p.split('/').last

  /** Copy-on-write row delete: only the files that CONTAIN a matching row
    * (plus any file a pending position delete references — COW commits
    * always leave a delete-free snapshot) are rewritten; every other file
    * carries into the new snapshot untouched. File identity comes from
    * the `_metadata.file_path` lineage column — the same file-level
    * granularity Iceberg's COW delete uses. Returns (newVersion,
    * rowsDeleted). */
  def deleteWhere(spark: SparkSession, root: String, cond: Column): (Int, Long) = {
    val (prev, snap, claim) = mainMutationCtx(root)
    if (snap.files.isEmpty) return (prev, 0L)
    val hits = census(spark, root, snap,
      Some(openVisible(spark, root, snap, snap.files).filter(cond)))
    val nDeleted = hits.values.sum
    if (nDeleted == 0) (prev, 0L)
    else {
      val hitNames = hits.keySet
      // a row whose `cond` is NULL is not deleted — it survives here just
      // as it does in untouched files and under deleteWhereMor
      val survivors = openVisible(spark, root, snap,
        snap.files.filter(f => hitNames(baseName(f.path))))
        .filter(not(coalesce(cond, lit(false)))).drop("_df", "_pos")
      // stage drops zero-row parts, so an all-deleted rewrite adds no file
      val files = snap.files.filterNot(f => hitNames(baseName(f.path))) ++
        stage(survivors, root, claim, snap.statsCol, snap.cols)
      val v = commit(root, prev, "delete", snap.nRows - nDeleted,
        snap.schemaDdl, snap.statsCol, files, Seq.empty, snap.cols,
        snap.eqDeletes, claim = claim)
      (v, nDeleted)
    }
  }

  /** MERGE-ON-READ row delete (Iceberg's position-delete path): instead
    * of rewriting hit files, commit a parquet DELETE FILE of
    * (data-file basename, row position) entries; every data file —
    * including the hit ones — carries into the new snapshot BYTE-
    * IDENTICAL, and readers subtract the positions at scan time
    * ([[openFiles]]). The write costs one scan + one tiny file no matter
    * how many data files contain hits — the right trade when deletes are
    * frequent and small relative to the files they touch (GDPR erasure,
    * late-arriving retractions) and the 100 TB rewrite amplification of
    * COW is the bottleneck. Read cost grows with the pending delete set;
    * [[rewritePositionDeletes]] is the compaction that folds it back in.
    * Returns (newVersion, rowsDeleted). */
  def deleteWhereMor(spark: SparkSession, root: String,
                     cond: Column): (Int, Long) = {
    val (prev, snap, claim) = mainMutationCtx(root)
    if (snap.files.isEmpty) return (prev, 0L)
    // positions are computed against the VISIBLE state, so re-deleting an
    // already-deleted row cannot duplicate an entry
    val newDels = openVisible(spark, root, snap, snap.files)
      .filter(cond)
      .select(col("_df").as("df"), col("_pos").as("pos"))
      .repartition(1).sortWithinPartitions("df", "pos")
    // a delete set is tiny next to the data it tombstones: one file
    val staged = stage(newDels, root, claim, None, tag = "del-")
    val n = staged.map(_.rows).sum
    if (n == 0) (prev, 0L)
    else {
      val v = commit(root, prev, "delete[mor]", snap.nRows - n,
        snap.schemaDdl, snap.statsCol, snap.files, snap.deletes ++ staged,
        snap.cols, snap.eqDeletes, claim = claim)
      (v, n)
    }
  }

  /** Iceberg's `rewrite_position_deletes` + `rewrite_data_files` folded
    * into the delete-maintenance compaction this layer needs: rewrite
    * ONLY the data files that pending delete entries reference (their
    * visible rows restage), carry every untouched file as-is, and commit
    * a delete-free, content-identical snapshot. Returns (newVersion,
    * filesRewritten). */
  def rewritePositionDeletes(spark: SparkSession, root: String): (Int, Int) = {
    val (prev, snap, claim) = mainMutationCtx(root)
    if (snap.deletes.isEmpty) return (prev, 0)
    val hitNames = census(spark, root, snap, None).keySet
    val hitEntries = snap.files.filter(f => hitNames(baseName(f.path)))
    val newFiles =
      if (hitEntries.isEmpty) Seq.empty[FileEntry]
      else stage(openVisible(spark, root, snap, hitEntries)
        .drop("_df", "_pos"), root, claim, snap.statsCol, snap.cols)
    val files = snap.files.filterNot(f => hitNames(baseName(f.path))) ++
      newFiles
    val v = commit(root, prev, "rewrite_deletes", snap.nRows,
      snap.schemaDdl, snap.statsCol, files, Seq.empty, snap.cols,
      snap.eqDeletes, claim = claim)
    (v, hitEntries.size)
  }

  /** MERGE-ON-READ row delete by KEY VALUES (Iceberg's equality-delete
    * path): commit a parquet file of the distinct rows of `keys` (its
    * column set defines the equality columns) and rewrite NOTHING — not
    * even positions are computed, so the data side of the write is
    * O(|keys|) regardless of table size. Readers anti-join the key set
    * at scan time against data files committed at or before this
    * version; rows APPENDED LATER with the same key survive (the
    * sequence-number rule), which is what makes equality deletes safe
    * under concurrent upsert ingest — the GDPR-erasure / CDC-retraction
    * shape at 100 TB.
    *
    * The one scan below only COUNTS the affected visible rows so this
    * layer's manifests keep their exact `nRows` audit contract (real
    * Iceberg leaves the summary approximate and skips the read); a
    * count-free variant would commit blind. Returns
    * (newVersion, rowsDeleted). */
  def deleteWhereMorEq(spark: SparkSession, root: String,
                       keys: DataFrame): (Int, Long) = {
    val (prev, snap, claim) = mainMutationCtx(root)
    if (snap.files.isEmpty) return (prev, 0L)
    val keyCols = keys.columns.toSeq
    // typed as the table's columns, so readers can name the key schema
    // from the manifest alone (eqDeleteKeys)
    val table = StructType.fromDDL(snap.schemaDdl)
    val k = keys
      .select(keyCols.map(c => col(c).cast(table(c).dataType).as(c)): _*)
      .distinct().cache()
    val n = openVisible(spark, root, snap, snap.files)
      .join(k, keyCols, "left_semi").count()
    if (n == 0) { k.unpersist(); return (prev, 0L) }
    val staged = stage(k.coalesce(1), root, claim, None, tag = "eqdel-")
    k.unpersist()
    val v = commit(root, prev, "delete[eqmor]", snap.nRows - n,
      snap.schemaDdl, snap.statsCol, snap.files, snap.deletes, snap.cols,
      snap.eqDeletes ++ staged.map(f => EqDelete(f, keyCols, claim)),
      claim = claim)
    (v, n)
  }

  /** Row-level CHANGELOG between two snapshots (Iceberg's
    * `create_changelog_view`): every row inserted or deleted in
    * `(fromVersion, toVersion]`, tagged `_change_type` ∈
    * {insert, delete} and `_commit_version`. Derived from MANIFEST diffs
    * — appends contribute exactly their new files' rows, MOR commits
    * contribute the rows their new (position or equality) delete files
    * tombstone — so the cost is proportional to the CHANGED data, never
    * a two-snapshot diff scan. COW commits (delete/merge/compact)
    * restage untouched rows into new files, where a file diff
    * over-reports; crossing one throws rather than lying — run changes
    * up to the COW boundary and read the snapshots directly across it. */
  def changes(spark: SparkSession, root: String,
              fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion < toVersion,
      s"changes: need fromVersion < toVersion, got $fromVersion, $toVersion")
    val frames = ((fromVersion + 1) to toVersion).map { v =>
      val cur = snapshot(root, v)
      val prevS =
        if (v == 1) Snapshot(0, "none", 0L, cur.schemaDdl, cur.statsCol,
          Seq.empty)
        else snapshot(root, v - 1)
      def tag(df: DataFrame, t: String): DataFrame =
        df.withColumn("_change_type", lit(t))
          .withColumn("_commit_version", lit(v))
      cur.op match {
        case op if op == "append" || op.startsWith("append[") ||
                   op == "create" =>
          val prevPaths = prevS.files.map(_.path).toSet
          val added = cur.files.filterNot(f => prevPaths(f.path))
          tag(scanFiles(spark, root, cur, added), "insert")
        case "delete[mor]" =>
          val prevDels = prevS.deletes.toSet
          val newDels = cur.deletes.filterNot(prevDels)
          val entries = deleteEntries(spark, root, newDels)
          // tombstoned rows were VISIBLE at v-1; positions name them exactly
          tag(openRaw(spark, root, prevS, prevS.files)
            .join(entries,
              col("_df") === entries("df") && col("_pos") === entries("pos"),
              "left_semi")
            .drop("_df", "_pos"), "delete")
        case "delete[eqmor]" =>
          val prevEq = prevS.eqDeletes.toSet
          val newEq = cur.eqDeletes.filterNot(prevEq)
          newEq.map { e =>
            val keys = eqDeleteKeys(spark, root, cur, e)
            tag(openVisible(spark, root, prevS, prevS.files)
              .join(broadcast(keys), e.keyCols, "left_semi")
              .drop("_df", "_pos"), "delete")
          }.reduce(_ unionByName _)
        case op =>
          sys.error(s"changes($fromVersion, $toVersion) crosses " +
            s"non-incremental commit v$v ($op): COW rewrites restage " +
            "rows and a manifest diff over-reports — read the snapshots " +
            "directly across this boundary")
      }
    }
    frames.reduce(_ unionByName _)
  }

  /** Copy-on-write MERGE by key (the `MERGE INTO` the reference's Iceberg
    * tables imply): rows in `updates` replace same-key rows, the rest
    * insert. Only files containing a matched key are rewritten; pure
    * inserts touch no existing file. Returns (newVersion, nUpdated,
    * nInserted). */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            key: String): (Int, Long, Long) = {
    val (prev, snap, claim) = mainMutationCtx(root)
    val cols = evolvedCols(snap.cols, maxEverId(root, prev), updates.schema)
    // the update rows stage FIRST: their footers count them, and the
    // staged bytes — not a re-execution of `updates` — supply the keys
    // the census and the rewrite both match on
    val upFiles = stage(updates, root, claim, snap.statsCol, cols)
    val nUp = upFiles.map(_.rows).sum
    val upKeys = readFiles(spark, root,
      byName(StructType(Seq(updates.schema(key)))), upFiles)
    val visible = openVisible(spark, root, snap, snap.files)
    val hits = census(spark, root, snap,
      Some(visible.join(upKeys, Seq(key), "left_semi")))
    val nUpdated = hits.values.sum
    val hitNames = hits.keySet
    val survivorFiles =
      if (hitNames.isEmpty) Seq.empty[FileEntry]
      else {
        val touched = openVisible(spark, root, snap,
          snap.files.filter(f => hitNames(baseName(f.path))))
          .drop("_df", "_pos")
        stage(touched.join(upKeys, touched(key) === upKeys(key), "left_anti"),
          root, claim, snap.statsCol, cols)
      }
    val files = snap.files.filterNot(f => hitNames(baseName(f.path))) ++
      survivorFiles ++ upFiles
    val schema = if (snap.idBased) ddlOf(cols)
                 else mergedDdl(snap.schemaDdl, updates.schema)
    val v = commit(root, prev, "merge", snap.nRows - nUpdated + nUp,
      schema, snap.statsCol, files, Seq.empty, cols, snap.eqDeletes,
      claim = claim)
    (v, nUpdated, nUp - nUpdated)
  }

  /** O(1) rollback: a NEW snapshot pinning an old snapshot's exact file
    * list — no data moves, and the rolled-back-over versions stay
    * readable (audit trail) until expired. */
  def rollback(root: String, toVersion: Int): Int = {
    val prev = mainVersion(root)
    val target = snapshot(root, toVersion)
    commit(root, prev, s"rollback[v$toVersion]", target.nRows,
      target.schemaDdl, target.statsCol, target.files, target.deletes,
      target.cols, target.eqDeletes, claim = currentVersion(root) + 1)
  }

  // ---- reads ---------------------------------------------------------------

  private def open(spark: SparkSession, root: String, snap: Snapshot): DataFrame =
    openFiles(spark, root, snap, snap.files)

  /** `files` read with an EXPLICIT schema — no footer inference, so
    * building the frame starts no Spark job. Spark makes every requested
    * column nullable and widens narrower parquet integers. */
  private def readFiles(spark: SparkSession, root: String,
                        schema: StructType, files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema)
      .parquet(files.map(f => Paths.get(root, f.path).toString): _*)

  /** `st` without field metadata: a requested column that carries a
    * `parquet.field.id` matches file columns by id, so schemas borrowed
    * from a frame are stripped to match by name. */
  private def byName(st: StructType): StructType =
    StructType(st.fields.map(f => StructField(f.name, f.dataType)))

  /** The logical-schema scan of `files`, with the schema the manifest
    * pins. Name-resolved tables read with the `schema=` DDL — every
    * commit records the evolved (added-column) schema there, so it is
    * the merge of the file schemas without opening a footer. Id-based
    * tables read with the snapshot's [[ColumnDef]]s plus
    * `parquet.field.id` metadata — Spark's parquet reader then matches
    * file columns by id, which is what makes renames read old files
    * correctly and keeps dropped ids invisible. */
  private def scanFiles(spark: SparkSession, root: String, snap: Snapshot,
                        files: Seq[FileEntry]): DataFrame =
    if (snap.idBased) {
      ensureFieldIdConfs(spark)
      val base = StructType.fromDDL(ddlOf(snap.cols))
      val withIds = StructType(base.fields.zip(snap.cols).map {
        case (f, c) =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("parquet.field.id", c.id.toLong).build())
      })
      readFiles(spark, root, withIds, files)
    } else
      readFiles(spark, root, StructType.fromDDL(snap.schemaDdl), files)

  /** Data rows of `files` with LINEAGE columns attached: `_df` = data-file
    * basename (unique within a table: `v{N}-{i}.parquet`), `_pos` = row
    * position within that physical file (`_metadata.row_index` — stable
    * across split planning). These two are exactly a position-delete
    * entry's key, so MOR subtraction and COW file-pruning both hang off
    * this frame. Basenames rather than absolute paths keep delete files
    * valid when the table root relocates. */
  private def openRaw(spark: SparkSession, root: String, snap: Snapshot,
                      files: Seq[FileEntry]): DataFrame =
    scanFiles(spark, root, snap, files)
      .select(col("*"),
        element_at(split(col("_metadata.file_path"), "/"), -1).as("_df"),
        col("_metadata.row_index").as("_pos"))

  /** The fixed schema of a position-delete file. */
  private val DeleteSchema = StructType.fromDDL("df STRING, pos BIGINT")

  /** Position-delete entries of `dels` as one (df, pos) frame. */
  private def deleteEntries(spark: SparkSession, root: String,
                            dels: Seq[FileEntry]): DataFrame =
    readFiles(spark, root, DeleteSchema, dels)

  /** The key values of equality-delete `e`, typed as the key columns of
    * `snap` (deleteWhereMorEq stages them cast to those types). */
  private def eqDeleteKeys(spark: SparkSession, root: String, snap: Snapshot,
                           e: EqDelete): DataFrame = {
    val table = StructType.fromDDL(snap.schemaDdl)
    readFiles(spark, root,
      StructType(e.keyCols.map(c => StructField(c, table(c).dataType))),
      Seq(e.file))
  }

  private def openFiles(spark: SparkSession, root: String, snap: Snapshot,
                        files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL(snap.schemaDdl))
    else if (snap.deletes.isEmpty && snap.eqDeletes.isEmpty)
      // fast path: no pending deletes, no lineage columns, plain scan
      scanFiles(spark, root, snap, files)
    else
      // merge-on-read: subtract position AND equality deletes at scan
      // time. Both delete sets are tiny next to the data — (basename,
      // BIGINT) pairs / bare key values — so the anti-joins broadcast;
      // data files are NOT opened twice and never rewritten.
      openVisible(spark, root, snap, files).drop("_df", "_pos")

  /** Manifest-level file skipping: the entries of snapshot `version`
    * whose [min, max] stats range intersects [lo, hi] (entries without
    * stats are kept — pruning must never be lossy). Pure metadata — no
    * file is opened. */
  private[graft] def pruneEntries(snap: Snapshot, lo: Long,
                                  hi: Long): Seq[FileEntry] =
    pruneEntriesOn(snap, 0, lo, hi)

  /** [[pruneEntries]] over the idx-th declared stats column (0 = the
    * primary min/max pair, i > 0 = `more(i-1)`). Files missing that
    * pair are kept — pruning must never be lossy. */
  private[graft] def pruneEntriesOn(snap: Snapshot, idx: Int, lo: Long,
                                    hi: Long): Seq[FileEntry] =
    snap.files.filter { f =>
      val pr = if (idx == 0) (f.min, f.max)
               else f.more.lift(idx - 1).getOrElse((None, None))
      pr match {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true
      }
    }

  /** Manifest-only IS NULL / IS NOT NULL pruning over the idx-th
    * declared stats column: `wantNull = true` keeps files whose null
    * count is positive, `false` keeps files with at least one non-null
    * row (nullCount < rows). Files with UNKNOWN null counts are kept —
    * pruning must never be lossy. Completes the Iceberg stats model:
    * min/max answers ranges, null counts answer nullability predicates
    * from the same one-manifest read. */
  private[graft] def pruneEntriesNull(snap: Snapshot, idx: Int,
                                      wantNull: Boolean): Seq[FileEntry] =
    snap.files.filter { f =>
      f.nulls.lift(idx).flatten match {
        case Some(n) => if (wantNull) n > 0 else n < f.rows
        case None => true
      }
    }

  /** `IS NULL` / `IS NOT NULL` scan over any declared stats column,
    * skipping files from the manifest's null counts alone — at 100 TB a
    * sparse column's null probes touch only the files that ever wrote a
    * null. Row-exact: the residual predicate applies inside the
    * surviving files. */
  def readIsNull(spark: SparkSession, root: String, colName: String,
                 wantNull: Boolean): DataFrame = {
    val snap = snapshot(root, mainVersion(root))
    val cs = statsColsOf(snap.statsCol)
    val idx = cs.indexOf(colName)
    require(idx >= 0, s"'$colName' is not a declared stats column of " +
      s"$root (declared: ${cs.mkString(",")})")
    val live = openFiles(spark, root, snap, pruneEntriesNull(snap, idx, wantNull))
    if (wantNull) live.filter(col(colName).isNull)
    else live.filter(col(colName).isNotNull)
  }

  /** Range scan over the stats column with manifest file skipping: only
    * files whose footer-recorded range intersects [lo, hi] are read at
    * all — at 100 TB, a selective range over a value-clustered table
    * touches a handful of files instead of the corpus, decided from one
    * manifest instead of the parquet footers themselves. Row-exact: the
    * residual predicate still applies inside the surviving files. */
  def readRange(spark: SparkSession, root: String, lo: Long, hi: Long): DataFrame = {
    val snap = snapshot(root, mainVersion(root))
    val c = statsColsOf(snap.statsCol).headOption.getOrElse(sys.error(
      s"table at $root has no stats column — create(..., statsCol) first"))
    openFiles(spark, root, snap, pruneEntries(snap, lo, hi))
      .filter(col(c).between(lo, hi))
  }

  /** [[readRange]] over ANY declared stats column by name — Iceberg
    * keeps per-column file stats, so a selective predicate on a
    * SECONDARY clustered column (e.g. user_id on an event log declared
    * `stats = "event_id,user_id"`) skips files from the manifest alone,
    * exactly like the primary. Lossy-never: files without that column's
    * stats are read and the residual filter restores exactness. */
  def readRangeOn(spark: SparkSession, root: String, colName: String,
                  lo: Long, hi: Long): DataFrame = {
    val snap = snapshot(root, mainVersion(root))
    val cs = statsColsOf(snap.statsCol)
    val idx = cs.indexOf(colName)
    require(idx >= 0, s"'$colName' is not a declared stats column of " +
      s"$root (declared: ${cs.mkString(",")})")
    openFiles(spark, root, snap, pruneEntriesOn(snap, idx, lo, hi))
      .filter(col(colName).between(lo, hi))
  }

  /** Incremental (CDC-style) read: the rows added strictly AFTER
    * `sinceVersion`, computed as the manifest file-set difference — no
    * data diffing. Exact for append-only history; any COW op in the
    * range restages old rows into "new" files, so this refuses
    * non-append history rather than over-reporting. */
  def addedSince(spark: SparkSession, root: String, sinceVersion: Int): DataFrame = {
    val cur = mainVersion(root)
    val snap = snapshot(root, cur)
    // walk the MAIN parent chain (version arithmetic would visit branch
    // snapshots that share the number space)
    var v = cur
    while (v > sinceVersion) {
      val s = snapshot(root, v)
      require(s.op == "append" || s.op.startsWith("append["),
        s"addedSince(v$sinceVersion) crosses non-append commit v$v (${s.op}) — " +
          "file-set diff no longer equals the row delta")
      require(s.parent < v, s"corrupt lineage at v$v (parent=${s.parent})")
      v = s.parent
    }
    require(v == sinceVersion,
      s"addedSince: v$sinceVersion is not on main's lineage (chain reached v$v)")
    val base = snapshot(root, sinceVersion).paths.toSet
    openFiles(spark, root, snap, snap.files.filterNot(f => base(f.path)))
  }

  /** Time travel: the table exactly as of snapshot `version`. */
  def readAt(spark: SparkSession, root: String, version: Int): DataFrame =
    open(spark, root, snapshot(root, version))

  /** The current MAIN snapshot (branch snapshots are invisible here
    * until fast-forwarded). */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, mainVersion(root))

  /** Snapshot history as a DataFrame — the audit surface (`version, op,
    * n_rows, n_files`), read from manifests only. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    retainedSnapshots(root, 1 to currentVersion(root))
      .map(s => (s.version, s.op, s.nRows, s.files.length))
      .toDF("version", "op", "n_rows", "n_files")
  }

  // ---- maintenance ---------------------------------------------------------

  /** Expire snapshots older than `keepFrom`: their manifests are removed
    * and any data file referenced ONLY by them is deleted — the reclaim
    * half of the immutable-files contract. Files shared with retained
    * snapshots survive. */
  def expire(root: String, keepFrom: Int): (Int, Int) = {
    val cur = currentVersion(root)
    require(keepFrom <= cur, s"keepFrom=$keepFrom is past current v$cur")
    // REF-PINNED versions survive regardless of age: a tag or branch head
    // (and main's own pointer) must stay readable — manifests are
    // self-contained full file lists, so pinning the manifest alone keeps
    // the snapshot reconstructable (Iceberg's ref-retention rule)
    val pinned = (listRefs(root).map(_._3) :+ mainVersion(root)).toSet
    val live = retainedSnapshots(root, ((keepFrom to cur) ++ pinned).distinct)
      .flatMap(_.allPaths).toSet
    var droppedManifests = 0
    var droppedFiles = 0
    (1 until keepFrom).filterNot(pinned).foreach { v =>
      val p = metaDir(root).resolve(s"v$v.manifest")
      if (Files.exists(p)) {
        val dead = snapshot(root, v).allPaths.filterNot(live)
        dead.foreach { f =>
          if (Files.deleteIfExists(Paths.get(root, f))) droppedFiles += 1
        }
        Files.delete(p)
        droppedManifests += 1
      }
    }
    // files may also be orphaned by dead manifests already gone; sweep
    // data/ against the union of ALL remaining manifests
    val remaining = retainedSnapshots(root, 1 to cur)
    val stillReferenced = remaining.flatMap(_.allPaths).toSet
    val d = dataDir(root)
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      try s.iterator().asScala.toSeq.foreach { p =>
        val rel = s"data/${p.getFileName}"
        // Same in-flight exemption as the segment sweep below: a
        // concurrent commit ATOMIC_MOVEs its data files (named
        // data/v{next}-{nonce}-*.parquet) into place BEFORE publishing
        // the manifest that references them — reclaiming in that window
        // would leave the just-published snapshot unreadable. A data
        // file named beyond the currently published version is
        // in-flight, not orphaned; a later expire (once cur advances
        // past it) reclaims true losers.
        val fVer = p.getFileName.toString
          .stripPrefix("v").takeWhile(_.isDigit)
        val inFlight = fVer.nonEmpty && fVer.toLong > cur
        if (!inFlight && !stillReferenced(rel) && Files.deleteIfExists(p))
          droppedFiles += 1
      } finally s.close()
    }
    // manifest SEGMENTS are shared across snapshots by reference, so one
    // is reclaimable only when NO remaining manifest references it (this
    // also sweeps orphans from lost commit races, whose manifest link
    // never published). Not counted in droppedFiles — the return contract
    // counts data files, segments are metadata.
    val liveSegs = remaining.flatMap(_.segments.map(_.name)).toSet
    val m = metaDir(root)
    if (Files.isDirectory(m)) {
      val s = Files.list(m)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".seg"))
        .foreach { p =>
          val fn = p.getFileName.toString
          // A concurrent commit moves its new segment (named
          // v{next}-{nonce}.seg) into meta/ BEFORE publishing the
          // manifest that references it; reclaiming in that window
          // would leave the just-published snapshot unreadable. A
          // segment named beyond the currently published version is
          // in-flight, not orphaned — a later expire (after the race
          // resolves and cur advances past it) reclaims true losers.
          val segVer = fn.stripPrefix("v").takeWhile(_.isDigit)
          val inFlight = segVer.nonEmpty && segVer.toLong > cur
          if (!inFlight && !liveSegs(fn)) Files.deleteIfExists(p)
        } finally s.close()
    }
    (droppedManifests, droppedFiles)
  }

  // ---- refs: branches and tags ---------------------------------------------
  //
  // The Iceberg ref model on this store: snapshots live in ONE global
  // number space; a REF is a named pointer into it. `main` is the
  // `_current` pointer every ordinary commit advances; a BRANCH is a
  // movable pointer its own commits advance (main never sees them until
  // fast-forward — the write-audit-publish isolation, branch flavored);
  // a TAG is an immutable pointer (a release/repro pin) that [[expire]]
  // retains. Refs are tiny files under `meta/refs/`, created with the
  // same CREATE_NEW hard-link claim as manifests.

  private def refsDir(root: String): Path = metaDir(root).resolve("refs")
  private def refFile(root: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9_-]{1,64}"),
      s"ref name '$name' (allowed: [A-Za-z0-9_-]{1,64})")
    refsDir(root).resolve(s"$name.ref")
  }

  private def writeRef(root: String, name: String, kind: String, v: Int,
                       replace: Boolean): Unit = {
    val f = refFile(root, name)
    Files.createDirectories(refsDir(root))
    val tmp = refsDir(root).resolve(s".$name.tmp")
    Files.writeString(tmp, s"kind=$kind\nversion=$v\n")
    if (replace)
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    else {
      try Files.createLink(f, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          throw new IllegalStateException(s"ref '$name' already exists")
      }
      Files.deleteIfExists(tmp)
    }
  }

  private def readRefMeta(root: String, name: String): (String, Int) = {
    val f = refFile(root, name)
    require(Files.exists(f), s"no ref '$name'")
    val lines = Files.readAllLines(f).asScala
    (lines.find(_.startsWith("kind=")).map(_.drop(5)).getOrElse("branch"),
      lines.find(_.startsWith("version=")).map(_.drop(8).toInt)
        .getOrElse(sys.error(s"ref '$name' missing version")))
  }

  /** Create a branch at `from` (default: main's head). */
  def createBranch(root: String, name: String, from: Int = -1): Int = {
    val v = if (from > 0) from else mainVersion(root)
    snapshot(root, v) // must exist
    writeRef(root, name, "branch", v, replace = false)
    v
  }

  /** Create an immutable tag at `version` (default: main's head). */
  def createTag(root: String, name: String, version: Int = -1): Int = {
    val v = if (version > 0) version else mainVersion(root)
    snapshot(root, v)
    writeRef(root, name, "tag", v, replace = false)
    v
  }

  /** The snapshot a ref points at. */
  def refVersion(root: String, name: String): Int = readRefMeta(root, name)._2

  /** All refs: (name, kind, version). */
  def listRefs(root: String): Seq[(String, String, Int)] = {
    val d = refsDir(root)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".ref")).toSeq.sorted
        .map { f =>
          val name = f.stripSuffix(".ref")
          val (kind, v) = readRefMeta(root, name)
          (name, kind, v)
        }
      finally s.close()
    }
  }

  /** Drop a ref (its snapshots stay until [[expire]]). */
  def dropRef(root: String, name: String): Boolean =
    Files.deleteIfExists(refFile(root, name))

  /** The table as a ref sees it. */
  def readRef(spark: SparkSession, root: String, name: String): DataFrame =
    readAt(spark, root, refVersion(root, name))

  /** Append onto a BRANCH: a global snapshot whose parent is the branch
    * head; only the branch ref advances — main readers cannot observe
    * the commit. The audit side of branch-WAP reads the branch
    * ([[readRef]]) before [[fastForward]] publishes it. */
  def appendToBranch(spark: SparkSession, df: DataFrame, root: String,
                     name: String): Int = {
    val (kind, head) = readRefMeta(root, name)
    require(kind == "branch", s"ref '$name' is a $kind — append needs a branch")
    val snap = snapshot(root, head)
    val claim = currentVersion(root) + 1
    val cols = evolvedCols(snap.cols, maxEverId(root, head), df.schema)
    val files = stage(df, root, claim, snap.statsCol, cols)
    val schema = if (snap.idBased) ddlOf(cols)
                 else mergedDdl(snap.schemaDdl, df.schema)
    val v = commit(root, head, s"append[branch=$name]",
      snap.nRows + files.map(_.rows).sum, schema, snap.statsCol,
      snap.files ++ files, snap.deletes, cols, snap.eqDeletes,
      advanceMain = false, claim = claim)
    writeRef(root, name, "branch", v, replace = true)
    v
  }

  /** Publish a branch to main — O(1), metadata only. Requires main's
    * head to be an ANCESTOR of the branch head (walked via parent
    * lineage); a diverged main (it advanced since the fork) throws
    * instead of silently dropping its commits. */
  def fastForward(root: String, name: String): Int = {
    val (kind, head) = readRefMeta(root, name)
    require(kind == "branch", s"ref '$name' is a $kind — cannot fast-forward")
    val m = mainVersion(root)
    if (head == m) return m
    var v = head
    while (v > m) v = snapshot(root, v).parent
    require(v == m,
      s"branch '$name' (v$head) does not descend from main (v$m) — " +
        "main advanced since the fork; rebase or merge the branch instead")
    setMainPointer(root, head)
    head
  }

  /** The parent-chain versions from `v` down to the create (inclusive). */
  private def lineage(root: String, v: Int): List[Int] = {
    var cur = v
    val acc = List.newBuilder[Int]
    while (cur >= 1) {
      acc += cur
      val p = snapshot(root, cur).parent
      require(p < cur, s"corrupt lineage at v$cur (parent=$p)")
      cur = p
    }
    acc.result()
  }

  /** REBASE a diverged branch onto main — the recovery path when
    * [[fastForward]] refuses. Valid when every branch commit past the
    * fork point is an APPEND (file-set additions commute with main's
    * history): the branch's added files replay onto main's head as one
    * new branch snapshot, parented at main, and the branch ref moves
    * there — after which fastForward succeeds. Data files are REUSED
    * (O(1) metadata, no rewrite). Non-append branch segments (deletes,
    * schema changes) don't commute and throw. */
  def rebaseBranch(root: String, name: String): Int = {
    val (kind, head) = readRefMeta(root, name)
    require(kind == "branch", s"ref '$name' is a $kind — cannot rebase")
    val m = mainVersion(root)
    val mainChain = lineage(root, m).toSet
    val branchChain = lineage(root, head)
    val fork = branchChain.find(mainChain).getOrElse(
      sys.error(s"branch '$name' shares no ancestor with main"))
    if (fork == head) return head // nothing to replay
    val segment = branchChain.takeWhile(_ != fork)
    segment.foreach { v =>
      val op = snapshot(root, v).op
      require(op.startsWith("append"),
        s"rebase: branch commit v$v is '$op' — only append-only branch " +
          "segments commute with main's history")
    }
    val forkPaths = snapshot(root, fork).paths.toSet
    val hsnap = snapshot(root, head)
    val added = hsnap.files.filterNot(f => forkPaths(f.path))
    val msnap = snapshot(root, m)
    val claim = currentVersion(root) + 1
    // the replayed files may carry columns the branch added
    val schema = if (msnap.idBased) msnap.schemaDdl
                 else mergedDdl(msnap.schemaDdl, StructType.fromDDL(hsnap.schemaDdl))
    val v = commit(root, m, s"rebase[branch=$name,from=v$fork]",
      msnap.nRows + added.map(_.rows).sum, schema, msnap.statsCol,
      msnap.files ++ added, msnap.deletes, msnap.cols, msnap.eqDeletes,
      advanceMain = false, claim = claim)
    writeRef(root, name, "branch", v, replace = true)
    v
  }

  /** Idempotent micro-batch append — the exactly-once building block for
    * a streaming sink: the micro-batch's id is recorded in the commit op
    * (`append[batch=N]`), and a replay of an already-committed batch id
    * (restart between the table commit and the checkpoint advance — the
    * classic at-least-once window) is detected from the manifests and
    * SKIPPED. At-least-once delivery × idempotent commit = exactly-once
    * table state, the same trick as Spark's own file-sink transaction
    * log, here landing versioned snapshots instead of a flat file list.
    * Returns true iff this call committed. */
  def appendBatchOnce(batch: DataFrame, root: String, batchId: Long): Boolean = {
    val cur = currentVersion(root)
    val opTag = s"append[batch=$batchId]"
    if (retainedSnapshots(root, 1 to cur).exists(_.op == opTag)) false
    else {
      val base = mainVersion(root)
      val snap = snapshot(root, base)
      val claim = cur + 1
      val cols = evolvedCols(snap.cols, maxEverId(root, base), batch.schema)
      val files = stage(batch, root, claim, snap.statsCol, cols)
      val schema = if (snap.idBased) ddlOf(cols)
                   else mergedDdl(snap.schemaDdl, batch.schema)
      commit(root, base, opTag, snap.nRows + files.map(_.rows).sum, schema,
        snap.statsCol, snap.files ++ files, snap.deletes, cols,
        snap.eqDeletes, claim = claim)
      true
    }
  }

  /** Streaming append sink over the snapshot table: one snapshot commit
    * per micro-batch via [[appendBatchOnce]] — downstream readers get
    * atomic, versioned, time-travelable visibility of each batch, and
    * [[addedSince]] turns the sink's output into an incremental feed. */
  def streamingSink(docs: DataFrame, root: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        appendBatchOnce(b, root, id); ()
      }
      .start()

  /** Compaction (Iceberg's rewrite_data_files): rewrite the CURRENT file
    * set into `targetParts` files as a new content-identical snapshot —
    * the small-files fix for a long-appended table (task-per-file
    * scheduling throttles 100 TB scans). Data is repartitioned by range
    * on the stats column when one is declared, so compacted files get
    * DISJOINT stats ranges — compaction tightens file skipping instead
    * of destroying it. Old snapshots keep their old files (time travel
    * intact) until `expire` reclaims them. Returns (newVersion,
    * filesBefore, filesAfter). */
  def compact(spark: SparkSession, root: String,
              targetParts: Int = 1): (Int, Int, Int) = {
    val (prev, snap, claim) = mainMutationCtx(root)
    val (files, pinfo) =
      restageCompacted(open(spark, root, snap), root, claim, snap, targetParts)
    val v = commit(root, prev, "compact", snap.nRows, snap.schemaDdl,
      snap.statsCol, files, Seq.empty, snap.cols, claim = claim,
      newPartInfo = pinfo)
    (v, snap.files.size, files.size)
  }

  /** INCREMENTAL bin-pack compaction — Iceberg's `rewrite_data_files`
    * with a min-size filter, and the form compaction takes at 100 TB
    * (a FULL rewrite per maintenance pass is a non-starter): only files
    * under `minRows` — the small-file debris frequent appends leave —
    * are read and re-packed; every file at or above the threshold keeps
    * its byte identity, so the commit costs O(debris), not O(table).
    * Partitioned tables pack into the current spec (per-partition
    * bin-packing, like Iceberg's binpack-within-partition); packed
    * files on unpartitioned tables range-arrange on the stats column so
    * file skipping survives the rewrite. MOR tables must
    * [[rewritePositionDeletes]] first — delete files reference data-file
    * identity, which packing destroys.
    * Returns (version, smallFilesPacked, packedFilesWritten); packing
    * 0 or 1 small files is a no-op that commits nothing. */
  def compactSmall(spark: SparkSession, root: String,
                   minRows: Long, targetParts: Int = 1): (Int, Int, Int) = {
    val (prev, snap, claim) = mainMutationCtx(root)
    require(snap.deletes.isEmpty && snap.eqDeletes.isEmpty,
      "binpack on a MOR table: rewrite position/equality deletes first")
    val (small, big) = snap.files.partition(_.rows < minRows)
    if (small.size <= 1) return (prev, small.size, 0)
    val (packed, pinfo) = restageCompacted(openFiles(spark, root, snap, small),
      root, claim, snap, targetParts)
    val v = commit(root, prev, s"binpack[<$minRows]", snap.nRows,
      snap.schemaDdl, snap.statsCol, big ++ packed, Seq.empty, snap.cols,
      claim = claim, newPartInfo = pinfo)
    (v, small.size, packed.size)
  }

  /** Stage the rows a compaction rewrites. A partitioned table compacts
    * INTO its current spec — the rewrite that migrates pre-evolution
    * eras: every compacted file gets a (specId, value) entry, so data
    * that predated the spec (and could only fall through pruning) prunes
    * exactly afterwards. Otherwise rows range-arrange on the primary
    * stats column into `targetParts` files with disjoint ranges. */
  private def restageCompacted(df: DataFrame, root: String, claim: Int,
                               snap: Snapshot, targetParts: Int)
      : (Seq[FileEntry], Map[String, (Int, String)]) =
    snap.specs.find(_.id == snap.defaultSpec) match {
      case Some(spec) =>
        stagePartitioned(df, root, claim, spec, snap.statsCol, snap.cols)
      case None =>
        val arranged = statsColsOf(snap.statsCol).headOption match {
          case Some(c) => df.repartitionByRange(targetParts, col(c))
          case None => df.repartition(targetParts)
        }
        (stage(arranged, root, claim, snap.statsCol, snap.cols), Map.empty)
    }

  // ---- helpers -------------------------------------------------------------

  /** Evolved schema: base columns keep their order/types, genuinely new
    * columns append — the add-column evolution path. */
  private def mergedDdl(baseDdl: String, next: StructType): String = {
    val base = StructType.fromDDL(baseDdl)
    val have = base.fieldNames.toSet
    StructType(base.fields ++ next.fields.filterNot(f => have(f.name))).toDDL
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.deleteIfExists(_))
      finally s.close()
    }

  // ---- registered time-travel query ---------------------------------------

  /** Deterministic 5-snapshot timeline over `documents`, built once per
    * (dir, data fingerprint): create a third of the corpus, append a
    * second third, COW-delete the English docs, MERGE an updated
    * slice back in (n_chars + 1000 — touches both updates and
    * reinserts), then MERGE-ON-READ-delete four sources (v5 — a
    * position-delete commit that rewrites nothing). Every op is a pure
    * function of the documents table, so DuckDB can replay each
    * snapshot's state from filters alone — the oracle checks time travel
    * itself, not just the final state. */
  /** Fingerprint of a fixture's documents parquet (count, bytes, max
    * mtime) — folded into lab-table names so an in-place fixture
    * regeneration rebuilds instead of serving stale snapshots. */
  private def docsFingerprint(dir: String): String = {
    val p = Paths.get(dir, "documents.parquet")
    val (n, bytes, mtime) =
      if (Files.isDirectory(p)) {
        val st = Files.walk(p)
        try {
          val fs = st.filter(Files.isRegularFile(_))
            .toArray.toSeq.map(_.asInstanceOf[Path])
          (fs.size.toLong, fs.map(Files.size).sum,
            fs.map(f => Files.getLastModifiedTime(f).toMillis)
              .foldLeft(0L)(math.max))
        } finally st.close()
      } else if (Files.exists(p))
        (1L, Files.size(p), Files.getLastModifiedTime(p).toMillis)
      else (0L, 0L, 0L)
    java.lang.Long.toHexString(
      java.util.Objects.hash(Long.box(n), Long.box(bytes), Long.box(mtime))
        .toLong & 0xffffffffL)
  }

  private[graft] def ensureTimeline(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
    val fp = docsFingerprint(dir)
    val base = Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "graft_snap")
    val root = base.resolve(s"docs_${tag}_$fp")
    this.synchronized {
      if (currentVersion(root.toString) < 7) {
        graft.BuildMeter.record()
        // stale timelines of this dir (other fingerprints) and any
        // half-built attempt are garbage
        if (Files.isDirectory(base)) {
          val ls = Files.list(base)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.matches(
              s"docs_${tag}_[0-9a-f]{1,8}"))
            .foreach(deleteRecursively)
          finally ls.close()
        }
        val d = graft.Tables.documents(s, dir)
        // id-based: the registered snapshot queries then exercise the
        // field-id resolution read path end-to-end against the oracle
        create(d.filter(pmod(col("doc_id"), lit(3)) === 0), root.toString,
          statsCol = Some("doc_id"), columnIds = true)
        append(s, d.filter(pmod(col("doc_id"), lit(3)) === 1), root.toString)
        deleteWhere(s, root.toString, col("lang") === "en")
        merge(s, root.toString,
          d.filter(pmod(col("doc_id"), lit(6)) === 0)
            .withColumn("n_chars", col("n_chars") + lit(1000L)),
          "doc_id")
        deleteWhereMor(s, root.toString,
          col("source").isin(MOR_SOURCES: _*))
        // v6: EQUALITY MOR delete by key value (no scan of data files);
        // v7: append AFTER it — same-key rows in the new files must
        // SURVIVE (sequence rule), which q_snapshot_eqdel oracle-checks
        deleteWhereMorEq(s, root.toString, {
          import s.implicits._
          Seq(EQ_DELETE_LANG).toDF("lang")
        })
        append(s, d.filter(pmod(col("doc_id"), lit(3)) === 2), root.toString)
      }
    }
    root.toString
  }

  /** The v6 equality delete's key value. */
  private[graft] val EQ_DELETE_LANG = "zh"

  /** The v5 MOR delete's predicate sources (and their SQL literal list
    * for the oracles). */
  private[graft] val MOR_SOURCES = Seq("src0", "src1", "src2", "src3")
  private val morSourcesSql = MOR_SOURCES.map(s => s"'$s'").mkString(", ")

  /** DuckDB replay of the timeline's v4 row set (post create + append +
    * COW delete + merge). */
  private val V4_WHERE =
    """((doc_id % 3 IN (0, 1) AND lang <> 'en' AND doc_id % 6 <> 0)
      |    OR doc_id % 6 = 0)""".stripMargin

  /** Per-snapshot census across the whole timeline — each row aggregates
    * `readAt(v)`, so matching the oracle means every historical snapshot
    * (not just the head) reconstructed exactly; v5's row reads THROUGH
    * the position-delete subtraction. */
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    (1 to 5).map { v =>
      readAt(s, root, v)
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select(lit(v).as("version"), col("n_docs"), col("sum_chars"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  private val timeTravelSql =
    s"""SELECT 1 AS version, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE doc_id % 3 IN (0, 1)
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'en'
      |UNION ALL
      |SELECT 4, count(*),
      |       CAST(sum(CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |                     ELSE n_chars END) AS BIGINT)
      |FROM documents
      |WHERE $V4_WHERE
      |UNION ALL
      |SELECT 5, count(*),
      |       CAST(sum(CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |                     ELSE n_chars END) AS BIGINT)
      |FROM documents
      |WHERE $V4_WHERE
      |  AND source NOT IN ($morSourcesSql)
      |ORDER BY version""".stripMargin

  /** Range scan over the timeline's head snapshot THROUGH the
    * file-skipping path ([[readRange]]) — registering the pruned scan as
    * an oracle-checked query, so skipping can never silently drop rows:
    * the oracle replays the head (v5) state plus the range predicate
    * with no notion of files at all. Since v5 is the MOR delete, this
    * also proves manifest pruning COMPOSES with position-delete
    * subtraction (a delete entry whose data file pruned away just never
    * matches the anti-join). */
  def snapshotRange(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    readRange(s, root, 100L, 400L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  // readRange reads the CURRENT snapshot — v7 since the eq-delete/append
  // extension: v5's visible rows minus the 'zh' equality delete, plus the
  // v7 append (whose same-key rows out-sequence the delete)
  private val snapshotRangeSql =
    s"""SELECT doc_id, lang, source, n_chars FROM (
      |  SELECT doc_id, lang, source,
      |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS n_chars
      |  FROM documents
      |  WHERE $V4_WHERE
      |    AND source NOT IN ($morSourcesSql)
      |    AND lang <> '$EQ_DELETE_LANG'
      |  UNION ALL
      |  SELECT doc_id, lang, source, n_chars
      |  FROM documents WHERE doc_id % 3 = 2)
      |WHERE doc_id BETWEEN 100 AND 400
      |ORDER BY doc_id""".stripMargin

  /** Content DIFF between two snapshot versions (v2 → v4, spanning the
    * COW delete and the merge): rows removed = v2 ∖ v4, rows added =
    * v4 ∖ v2, both as bag differences (EXCEPT ALL), summarized per
    * language. This is the general CDC read [[addedSince]] deliberately
    * refuses on non-append history — a COW rewrite restages rows, so a
    * file-set diff over-reports; a CONTENT diff is exact on any history.
    * An updated row (the merge's n_chars + 1000) shows up on both sides:
    * its old version removed, its new version added.
    *
    * Scale shape: both states project the compared columns ONLY before
    * the diff — the document text never enters the anti-join shuffles;
    * EXCEPT ALL is a hash aggregate over (id, lang, source, n_chars)
    * tuples keyed like any dedup. The oracle replays both states from
    * filters alone, so the diff is checked against a replay that has no
    * notion of files or versions. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    val proj = Seq("doc_id", "lang", "source", "n_chars").map(col)
    val v2 = readAt(s, root, 2).select(proj: _*)
    val v4 = readAt(s, root, 4).select(proj: _*)
    val added = v4.exceptAll(v2).withColumn("change", lit("added"))
    val removed = v2.exceptAll(v4).withColumn("change", lit("removed"))
    added.unionByName(removed)
      .groupBy("change", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("change", "lang")
  }

  private val snapshotDiffSql =
    """WITH v2 AS (
      |  SELECT doc_id, lang, source, n_chars
      |  FROM documents WHERE doc_id % 3 IN (0, 1)),
      |v4 AS (
      |  SELECT doc_id, lang, source,
      |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS n_chars
      |  FROM documents
      |  WHERE (doc_id % 3 IN (0, 1) AND lang <> 'en' AND doc_id % 6 <> 0)
      |     OR doc_id % 6 = 0),
      |added AS (SELECT * FROM v4 EXCEPT ALL SELECT * FROM v2),
      |removed AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v4)
      |SELECT 'added' AS change, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM added GROUP BY lang
      |UNION ALL
      |SELECT 'removed', lang, count(*), CAST(sum(n_chars) AS BIGINT)
      |FROM removed GROUP BY lang
      |ORDER BY change, lang""".stripMargin

  /** Merge-on-read census: per-language breakdown of the v5 snapshot —
    * the state AFTER the position-delete commit — next to the same
    * breakdown of v4. Hash-matching the oracle proves the delete-file
    * anti-join subtracts EXACTLY the predicate's rows and nothing else,
    * per group; the byte-identity of the untouched data files is pinned
    * in SnapshotLakeSpec (a census can't see bytes). */
  def snapshotMor(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    val proj = Seq("lang", "n_chars").map(col)
    val v4 = readAt(s, root, 4).select(proj: _*).withColumn("version", lit(4))
    val v5 = readAt(s, root, 5).select(proj: _*).withColumn("version", lit(5))
    v4.unionByName(v5)
      .groupBy("version", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("version", "lang")
  }

  private val snapshotMorSql =
    s"""WITH v4 AS (
      |  SELECT lang,
      |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS n_chars, source
      |  FROM documents
      |  WHERE $V4_WHERE)
      |SELECT version, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (
      |  SELECT 4 AS version, lang, n_chars FROM v4
      |  UNION ALL
      |  SELECT 5, lang, n_chars FROM v4
      |  WHERE source NOT IN ($morSourcesSql))
      |GROUP BY version, lang
      |ORDER BY version, lang""".stripMargin

  /** v6 (equality MOR delete) and v7 (append after it) censuses — the
    * oracle-checked proof of BOTH halves of the equality-delete
    * contract: v6 hides every 'zh' row without touching a data file,
    * and v7's n_zh is NONZERO because rows appended after the delete
    * out-sequence it. */
  def snapshotEqDelete(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    (6 to 7).map { v =>
      readAt(s, root, v).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang") === EQ_DELETE_LANG, 1L).otherwise(0L))
          .as("n_zh"),
        sum("n_chars").as("sum_chars"))
        .select(lit(v).as("version"), col("n_docs"), col("n_zh"),
          col("sum_chars"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  private val snapshotEqDeleteSql =
    s"""WITH v4 AS (
      |  SELECT lang,
      |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS n_chars, source
      |  FROM documents
      |  WHERE $V4_WHERE),
      |v6 AS (
      |  SELECT lang, n_chars FROM v4
      |  WHERE source NOT IN ($morSourcesSql) AND lang <> '$EQ_DELETE_LANG'),
      |v7 AS (
      |  SELECT lang, n_chars FROM v6
      |  UNION ALL
      |  SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 2)
      |SELECT 6 AS version, count(*) AS n_docs,
      |       CAST(count(*) FILTER (lang = '$EQ_DELETE_LANG') AS BIGINT)
      |         AS n_zh,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM v6
      |UNION ALL
      |SELECT 7, count(*),
      |       CAST(count(*) FILTER (lang = '$EQ_DELETE_LANG') AS BIGINT),
      |       CAST(sum(n_chars) AS BIGINT)
      |FROM v7
      |ORDER BY version""".stripMargin

  /** Changelog census over (v4, v7]: the three incremental commits —
    * position-delete, equality-delete, append — each contributing
    * exactly its tombstoned/added rows with values. Matching the oracle
    * means [[changes]] recovered the correct ROW SETS from manifest
    * diffs alone. */
  def snapshotCdc(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    changes(s, root, 4, 7)
      .groupBy(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"))
      .orderBy("commit_version", "change_type")
  }

  private val snapshotCdcSql =
    s"""WITH v4 AS (
      |  SELECT lang,
      |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS n_chars, source
      |  FROM documents
      |  WHERE $V4_WHERE)
      |SELECT * FROM (
      |SELECT 5 AS commit_version, 'delete' AS change_type,
      |       count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM v4 WHERE source IN ($morSourcesSql)
      |UNION ALL
      |SELECT 6, 'delete', count(*), CAST(sum(n_chars) AS BIGINT)
      |FROM v4
      |WHERE source NOT IN ($morSourcesSql) AND lang = '$EQ_DELETE_LANG'
      |UNION ALL
      |SELECT 7, 'insert', count(*), CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE doc_id % 3 = 2)
      |ORDER BY commit_version, change_type""".stripMargin

  /** Incremental view maintenance over the changelog: the per-language
    * census at the head (v7) computed as the v4 census PLUS the signed
    * [[changes]] delta — the v5–v7 data itself is never re-read as a
    * state. The oracle recomputes the same census DIRECTLY from the v7
    * row set, so a hash match proves the changelog algebra (inserts −
    * deletes) reconstructs exact aggregates — the contract an
    * incremental materialized view or downstream CDC consumer relies on
    * at 100 TB, where "just recompute the view" is the thing you cannot
    * afford. */
  def snapshotIvm(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    val base = readAt(s, root, 4).groupBy("lang")
      .agg(count(lit(1)).as("bn"), sum("n_chars").as("bc"))
    val delta = changes(s, root, 4, 7)
      .select(col("lang"), col("n_chars"),
        when(col("_change_type") === "insert", 1L).otherwise(-1L).as("sgn"))
      .groupBy("lang")
      .agg(sum("sgn").as("dn"), sum(col("sgn") * col("n_chars")).as("dc"))
    base.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("sum_chars"))
      .filter(col("n_docs") > 0)
      .orderBy("lang")
  }

  private val snapshotIvmSql =
    s"""WITH v4 AS (
      |  SELECT lang,
      |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS n_chars, source
      |  FROM documents
      |  WHERE $V4_WHERE),
      |v7 AS (
      |  SELECT lang, n_chars FROM v4
      |  WHERE source NOT IN ($morSourcesSql) AND lang <> '$EQ_DELETE_LANG'
      |  UNION ALL
      |  SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 2)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM v7 GROUP BY lang ORDER BY lang""".stripMargin

  /** Once-per-fixture BRANCH LAB: a small refs timeline exercising the
    * branch/tag surface end-to-end — v1 create (doc_id%3=0), tag `base`
    * + branch `staging` at v1, a branch append (%3=1, snapshot v2,
    * main-invisible), then a DIVERGING main append (%3=2, snapshot v3).
    * Separate root from [[ensureTimeline]] so the existing snapshot
    * oracles stay untouched. */
  private[graft] def ensureBranchLab(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
    val base = Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_snap_branch")
    val root = base.resolve(s"docs_${tag}_${docsFingerprint(dir)}")
    this.synchronized {
      if (currentVersion(root.toString) < 3) {
        graft.BuildMeter.record()
        // stale labs of this dir (other fingerprints) are garbage
        if (Files.isDirectory(base)) {
          val ls = Files.list(base)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.matches(
              s"docs_${tag}_[0-9a-f]{1,8}"))
            .foreach(deleteRecursively)
          finally ls.close()
        }
        deleteRecursively(root)
        val d = graft.Tables.documents(s, dir)
        create(d.filter(pmod(col("doc_id"), lit(3)) === 0), root.toString,
          statsCol = Some("doc_id"))
        createTag(root.toString, "base")
        createBranch(root.toString, "staging")
        appendToBranch(s, d.filter(pmod(col("doc_id"), lit(3)) === 1),
          root.toString, "staging")
        append(s, d.filter(pmod(col("doc_id"), lit(3)) === 2), root.toString)
      }
    }
    root.toString
  }

  /** Census of every ref's view of the branch lab — oracle-checked proof
    * that main, the branch, and the tag each read their own row set
    * (main NOT containing the branch append is the isolation property;
    * the tag pinning v1 is the retention property). */
  def snapshotBranch(s: SparkSession, dir: String): DataFrame = {
    val root = ensureBranchLab(s, dir)
    def census(df: DataFrame, ref: String, kind: String, v: Int) =
      df.agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select(lit(ref).as("ref"), lit(kind).as("kind"),
          lit(v).as("version"), col("n_docs"), col("sum_chars"))
    census(read(s, root), "main", "main", mainVersion(root))
      .unionByName(census(readRef(s, root, "staging"), "staging", "branch",
        refVersion(root, "staging")))
      .unionByName(census(readRef(s, root, "base"), "base", "tag",
        refVersion(root, "base")))
      .orderBy("ref")
  }

  private val snapshotBranchSql =
    """SELECT ref, kind, version, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (
      |  SELECT 'main' AS ref, 'main' AS kind, 3 AS version, n_chars
      |  FROM documents WHERE doc_id % 3 IN (0, 2)
      |  UNION ALL
      |  SELECT 'staging', 'branch', 2, n_chars
      |  FROM documents WHERE doc_id % 3 IN (0, 1)
      |  UNION ALL
      |  SELECT 'base', 'tag', 1, n_chars
      |  FROM documents WHERE doc_id % 3 = 0)
      |GROUP BY ref, kind, version ORDER BY ref""".stripMargin

  /** Once-per-fixture PARTITION-EVOLUTION LAB: four layout eras of one
    * table — v1 create (doc_id%3=0, unpartitioned), v2 evolve to
    * mod(4,doc_id), v3 append (%3=1, laid out in 4 mod-files), v4 evolve
    * to truncate(2,source), v5 append (%6=2, one file per source
    * prefix), v6 evolve to identity(lang), v7 append (%6=5, one file per
    * language). Every era's files survive verbatim; only NEW appends
    * adopt the new layout. */
  private[graft] def ensurePartLab(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
    val base = Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_snap_partevo")
    val root = base.resolve(s"docs_${tag}_${docsFingerprint(dir)}")
    this.synchronized {
      if (currentVersion(root.toString) < 7) {
        graft.BuildMeter.record()
        if (Files.isDirectory(base)) {
          val ls = Files.list(base)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.matches(
              s"docs_${tag}_[0-9a-f]{1,8}"))
            .foreach(deleteRecursively)
          finally ls.close()
        }
        deleteRecursively(root)
        val d = graft.Tables.documents(s, dir)
        create(d.filter(pmod(col("doc_id"), lit(3)) === 0), root.toString,
          statsCol = Some("doc_id"))
        evolvePartitionSpec(root.toString, "mod", "doc_id", 4)
        append(s, d.filter(pmod(col("doc_id"), lit(3)) === 1), root.toString)
        evolvePartitionSpec(root.toString, "truncate", "source", 2)
        append(s, d.filter(pmod(col("doc_id"), lit(6)) === 2), root.toString)
        evolvePartitionSpec(root.toString, "identity", "lang")
        append(s, d.filter(pmod(col("doc_id"), lit(6)) === 5), root.toString)
      }
    }
    root.toString
  }

  /** Once-per-fixture DATE-TRANSFORM LAB over the events table — the
    * layout an append-only event log evolves to in practice: v1 create
    * (event_id%3=0, unpartitioned), v2 evolve to day(ts), v3 append
    * (%3=1, one file per calendar day), v4 evolve to month(ts), v5
    * append (%6=2, one file per month), v6 evolve to hour(ts), v7
    * append (%6=5, one file per clock hour). The table declares TWO
    * stats columns (`event_id,user_id`) so every staged file carries a
    * per-column min/max pair in the manifest — the multi-predicate
    * file-skipping surface [[readRangeOn]] serves. */
  private[graft] def ensureDateLab(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
    val base = Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_snap_datelab")
    val root = base.resolve(s"ev_${tag}_${docsFingerprint(dir)}")
    this.synchronized {
      if (currentVersion(root.toString) < 7) {
        graft.BuildMeter.record()
        if (Files.isDirectory(base)) {
          val ls = Files.list(base)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.matches(s"ev_${tag}_[0-9a-f]{1,8}"))
            .foreach(deleteRecursively)
          finally ls.close()
        }
        deleteRecursively(root)
        val e = graft.Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type")
        create(e.filter(pmod(col("event_id"), lit(3)) === 0), root.toString,
          statsCol = Some("event_id,user_id"))
        evolvePartitionSpec(root.toString, "day", "ts")
        append(s, e.filter(pmod(col("event_id"), lit(3)) === 1), root.toString)
        evolvePartitionSpec(root.toString, "month", "ts")
        append(s, e.filter(pmod(col("event_id"), lit(6)) === 2), root.toString)
        evolvePartitionSpec(root.toString, "hour", "ts")
        append(s, e.filter(pmod(col("event_id"), lit(6)) === 5), root.toString)
      }
    }
    root.toString
  }

  /** Partition-evolution census: per spec era, the distinct partition
    * values and row counts recorded in the MANIFEST (matching the oracle
    * proves the staged layout + metadata are exactly the transform's
    * arithmetic), plus a partition read under the CURRENT spec whose
    * count spans all three eras (old files can't prune on the new
    * transform but still surface their matching rows — the correctness
    * half of evolution; [[SnapshotLakeSpec]] pins the pruning half). */
  def partitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = ensurePartLab(s, dir)
    val dateRoot = ensureDateLab(s, dir)
    def eraRows(r: String): Seq[(String, Long, Long)] = {
      val snap = snapshot(r, mainVersion(r))
      val rowsFor = snap.files.map(f => f.path -> f.rows).toMap
      snap.specs.map { sp =>
        val files = snap.partInfo.toSeq.filter(_._2._1 == sp.id)
        (s"spec:${sp.describe}", files.map(_._2._2).distinct.size.toLong,
          files.map(f => rowsFor(f._1)).sum)
      }
    }
    import s.implicits._
    val meta = (eraRows(root) ++ eraRows(dateRoot))
      .toDF("era", "n_parts", "n_rows")
    val en = readPartition(s, root, "en")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("read:en").as("era"), lit(1L).as("n_parts"),
        col("n_rows"))
    meta.unionByName(en).orderBy("era")
  }

  private val partitionEvolutionSql =
    """SELECT era, n_parts, n_rows FROM (
      |  SELECT 'read:en' AS era, CAST(1 AS BIGINT) AS n_parts,
      |         count(*) AS n_rows
      |  FROM documents WHERE lang = 'en'
      |  UNION ALL
      |  SELECT 'spec:identity(lang)', CAST(count(DISTINCT lang) AS BIGINT),
      |         count(*)
      |  FROM documents WHERE doc_id % 6 = 5
      |  UNION ALL
      |  SELECT 'spec:truncate(2,source)',
      |         CAST(count(DISTINCT substr(source, 1, 2)) AS BIGINT),
      |         count(*)
      |  FROM documents WHERE doc_id % 6 = 2
      |  UNION ALL
      |  SELECT 'spec:mod(4,doc_id)',
      |         CAST(count(DISTINCT doc_id % 4) AS BIGINT), count(*)
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT 'spec:day(ts)',
      |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT), count(*)
      |  FROM events WHERE event_id % 3 = 1
      |  UNION ALL
      |  SELECT 'spec:month(ts)',
      |         CAST(count(DISTINCT strftime(ts, '%Y-%m')) AS BIGINT),
      |         count(*)
      |  FROM events WHERE event_id % 6 = 2
      |  UNION ALL
      |  SELECT 'spec:hour(ts)',
      |         CAST(count(DISTINCT strftime(ts, '%Y-%m-%d-%H')) AS BIGINT),
      |         count(*)
      |  FROM events WHERE event_id % 6 = 5)
      |ORDER BY era""".stripMargin

  /** The `table.history` metadata query as an oracle-checked census:
    * every snapshot's op + manifest-recorded row count over the 7-commit
    * timeline lab. The oracle recomputes each version's TRUE cardinality
    * from the base table's filters — so a hash match proves the COMMIT
    * ACCOUNTING (create/append sums, COW delete/merge deltas, MOR
    * position/equality subtractions) kept `nRows` exactly right through
    * every mutation family, without re-reading any data file here
    * (history is pure manifest metadata — the point of the Iceberg
    * metadata tables at 100 TB). File counts are layout-dependent and
    * stay out of the compare. */
  def snapshotHistory(s: SparkSession, dir: String): DataFrame = {
    val root = ensureTimeline(s, dir)
    history(s, root)
      .select(col("version").cast("long").as("version"), col("op"),
        col("n_rows"))
      .orderBy("version")
  }

  private val snapshotHistorySql =
    s"""SELECT version, op, n_rows FROM (
       |  SELECT CAST(1 AS BIGINT) AS version, 'create' AS op,
       |         count(*) AS n_rows
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT 2, 'append', count(*)
       |  FROM documents WHERE doc_id % 3 IN (0, 1)
       |  UNION ALL
       |  SELECT 3, 'delete', count(*)
       |  FROM documents WHERE doc_id % 3 IN (0, 1) AND lang <> 'en'
       |  UNION ALL
       |  SELECT 4, 'merge', count(*)
       |  FROM documents WHERE $V4_WHERE
       |  UNION ALL
       |  SELECT 5, 'delete[mor]', count(*)
       |  FROM documents
       |  WHERE $V4_WHERE AND source NOT IN ($morSourcesSql)
       |  UNION ALL
       |  SELECT 6, 'delete[eqmor]', count(*)
       |  FROM documents
       |  WHERE $V4_WHERE AND source NOT IN ($morSourcesSql)
       |    AND lang <> '$EQ_DELETE_LANG'
       |  UNION ALL
       |  SELECT 7, 'append',
       |         (SELECT count(*) FROM documents
       |          WHERE $V4_WHERE AND source NOT IN ($morSourcesSql)
       |            AND lang <> '$EQ_DELETE_LANG')
       |         + (SELECT count(*) FROM documents WHERE doc_id % 3 = 2))
       |ORDER BY version""".stripMargin

  /** Expiry-lab root: a dedicated 5-commit table (create / append /
    * COW-delete / append / COW-delete), a TAG pinning v2, then
    * `expire(keepFrom = 4)`. Expiry is destructive, so the lab NEVER
    * shares the main timeline root. Idempotent: after the first build
    * `currentVersion` is 5 and re-runs observe the already-expired
    * state (manifests {2, 4, 5} — v1/v3 dropped, v2 tag-pinned). */
  private[graft] def ensureExpireLab(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
    val fp = docsFingerprint(dir)
    val base = Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_snap")
    val root = base.resolve(s"exp_${tag}_$fp")
    this.synchronized {
      if (currentVersion(root.toString) < 5) {
        graft.BuildMeter.record()
        if (Files.isDirectory(base)) {
          val ls = Files.list(base)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.matches(
              s"exp_${tag}_[0-9a-f]{1,8}"))
            .foreach(deleteRecursively)
          finally ls.close()
        }
        val d = graft.Tables.documents(s, dir)
        create(d.filter(pmod(col("doc_id"), lit(3)) === 0), root.toString,
          statsCol = Some("doc_id"))
        append(s, d.filter(pmod(col("doc_id"), lit(3)) === 1), root.toString)
        deleteWhere(s, root.toString, col("lang") === "en")
        append(s, d.filter(pmod(col("doc_id"), lit(3)) === 2), root.toString)
        deleteWhere(s, root.toString, col("source").isin(MOR_SOURCES: _*))
        createTag(root.toString, "repro", 2)
        expire(root.toString, keepFrom = 4)
      }
    }
    root.toString
  }

  /** Snapshot-expiry census (Iceberg's `expire_snapshots` semantics):
    * after expiring below the retention floor, exactly the retained
    * manifests remain — the floor's {4, 5} plus the TAG-pinned v2 — and
    * both pinned-but-old snapshots still READ correctly, which proves
    * file-level reclamation never touched a data file shared with a
    * retained snapshot (v2 shares v1's files; v4 shares v3's rewrites).
    * The oracle recomputes every surviving version's true cardinality
    * from the base table, so a wrongly-kept manifest (extra row), a
    * wrongly-dropped one (missing row), or a reclaimed shared file
    * (read undercount / crash) all hash-fail. */
  def snapshotExpire(s: SparkSession, dir: String): DataFrame = {
    val root = ensureExpireLab(s, dir)
    val manifests = history(s, root)
      .select(col("version").cast("long").as("version"),
        lit("manifest").as("src"), col("n_rows"))
    import s.implicits._
    val reads = Seq(
      (2L, "read", readRef(s, root, "repro").count()),
      (4L, "read", readAt(s, root, 4).count()))
      .toDF("version", "src", "n_rows")
    manifests.unionByName(reads).orderBy("version", "src")
  }

  private val snapshotExpireSql =
    s"""SELECT version, src, n_rows FROM (
       |  SELECT CAST(2 AS BIGINT) AS version, 'manifest' AS src,
       |         count(*) AS n_rows
       |  FROM documents WHERE doc_id % 3 IN (0, 1)
       |  UNION ALL
       |  SELECT 2, 'read', count(*)
       |  FROM documents WHERE doc_id % 3 IN (0, 1)
       |  UNION ALL
       |  SELECT 4, 'manifest', count(*) FROM documents
       |  WHERE (doc_id % 3 IN (0, 1) AND lang <> 'en') OR doc_id % 3 = 2
       |  UNION ALL
       |  SELECT 4, 'read', count(*) FROM documents
       |  WHERE (doc_id % 3 IN (0, 1) AND lang <> 'en') OR doc_id % 3 = 2
       |  UNION ALL
       |  SELECT 5, 'manifest', count(*) FROM documents
       |  WHERE ((doc_id % 3 IN (0, 1) AND lang <> 'en') OR doc_id % 3 = 2)
       |    AND source NOT IN ($morSourcesSql))
       |ORDER BY version, src""".stripMargin

  /** Once-per-fixture BIN-PACK LAB: one chunky create (doc_id%4=0, one
    * file, ~n/4 rows) + three tiny appends (doc_id%16 ∈ {1,2,3}, one
    * file each, ~n/16 rows) — the small-file debris shape — then
    * `compactSmall(minRows = n/8)`: the threshold sits between the
    * debris and the create file at EVERY sf, so exactly the three small
    * files pack and the create file survives untouched. */
  private[graft] def ensureBinpackLab(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
    val base = Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_snap_binpack")
    val root = base.resolve(s"docs_${tag}_${docsFingerprint(dir)}")
    this.synchronized {
      if (currentVersion(root.toString) < 5) {
        graft.BuildMeter.record()
        if (Files.isDirectory(base)) {
          val ls = Files.list(base)
          try ls.iterator().asScala.toSeq
            .filter(_.getFileName.toString.matches(
              s"docs_${tag}_[0-9a-f]{1,8}"))
            .foreach(deleteRecursively)
          finally ls.close()
        }
        deleteRecursively(root)
        val d = graft.Tables.documents(s, dir)
        val n = d.count()
        create(d.filter(pmod(col("doc_id"), lit(4)) === 0).repartition(1),
          root.toString, statsCol = Some("doc_id"))
        (1 to 3).foreach(k =>
          append(s, d.filter(pmod(col("doc_id"), lit(16)) === k)
            .repartition(1), root.toString))
        compactSmall(s, root.toString, minRows = n / 8)
      }
    }
    root.toString
  }

  /** Bin-pack census: v4 (pre) and v5 (post) manifest cardinality, the
    * post-pack read, and the post-pack file count — 2 by construction
    * (the untouched create file + one packed file). The oracle
    * recomputes every row count from the base table, so lost or
    * duplicated rows in the selective rewrite hash-fail; the byte-
    * identity of the untouched file is pinned by SnapshotLakeSpec. */
  def snapshotBinpack(s: SparkSession, dir: String): DataFrame = {
    val root = ensureBinpackLab(s, dir)
    val h = history(s, root)
      .filter(col("version").isin(4, 5))
      .select(col("version").cast("long").as("version"),
        lit("manifest").as("src"), col("n_rows"))
    import s.implicits._
    val snap5 = snapshot(root, 5)
    val extra = Seq(
      (5L, "read", read(s, root).count()),
      (5L, "n_files", snap5.files.size.toLong))
      .toDF("version", "src", "n_rows")
    h.unionByName(extra).orderBy("version", "src")
  }

  private val snapshotBinpackSql =
    """SELECT version, src, n_rows FROM (
      |  SELECT CAST(4 AS BIGINT) AS version, 'manifest' AS src,
      |         count(*) AS n_rows
      |  FROM documents WHERE doc_id % 4 = 0 OR doc_id % 16 IN (1, 2, 3)
      |  UNION ALL
      |  SELECT 5, 'manifest', count(*)
      |  FROM documents WHERE doc_id % 4 = 0 OR doc_id % 16 IN (1, 2, 3)
      |  UNION ALL
      |  SELECT 5, 'read', count(*)
      |  FROM documents WHERE doc_id % 4 = 0 OR doc_id % 16 IN (1, 2, 3)
      |  UNION ALL
      |  SELECT 5, 'n_files', CAST(2 AS BIGINT))
      |ORDER BY version, src""".stripMargin

  val all: Seq[graft.Q] = Seq(
    graft.Q("q_snapshot_binpack", snapshotBinpack, Some(snapshotBinpackSql),
      doc = "Incremental bin-pack compaction census: three small-file " +
        "appends pack into one file while the large create file keeps " +
        "byte identity; pre/post cardinality oracle-recomputed"),
    graft.Q("q_snapshot_expire", snapshotExpire, Some(snapshotExpireSql),
      doc = "expire_snapshots census: retention floor + tag-pinned v2 " +
        "survive with exact manifest nRows, and both pinned-but-old " +
        "snapshots still read — shared data files were never reclaimed"),
    graft.Q("q_snapshot_history", snapshotHistory,
      Some(snapshotHistorySql),
      doc = "table.history metadata census over the 7-commit timeline: " +
        "manifest nRows vs the oracle's true per-version cardinality — " +
        "proves commit accounting through every mutation family"),
    graft.Q("q_partition_evolution", partitionEvolution,
      Some(partitionEvolutionSql),
      doc = "Partition-spec evolution: per-era manifest layout census " +
        "(mod then identity specs) + a cross-era partition read — old " +
        "files keep their layout, new appends adopt the new spec"),
    graft.Q("q_snapshot_branch", snapshotBranch, Some(snapshotBranchSql),
      doc = "Branch/tag refs census: main, a diverged branch, and a tag " +
        "each read their own snapshot (isolation + retention), " +
        "oracle-recomputed from the base table"),
    graft.Q("q_snapshot_ivm", snapshotIvm, Some(snapshotIvmSql),
      doc = "Incremental view maintenance: v4 census + signed changelog " +
        "delta == direct v7 recompute (oracle recomputes directly)"),
    graft.Q("q_time_travel", timeTravel, Some(timeTravelSql)),
    graft.Q("q_snapshot_range", snapshotRange, Some(snapshotRangeSql)),
    graft.Q("q_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    graft.Q("q_snapshot_mor", snapshotMor, Some(snapshotMorSql)),
    graft.Q("q_snapshot_eqdel", snapshotEqDelete, Some(snapshotEqDeleteSql),
      doc = "Equality-delete MOR read + sequence rule: v6 hides the " +
        "keyed rows scan-time, v7's later append re-surfaces the key"),
    graft.Q("q_snapshot_cdc", snapshotCdc, Some(snapshotCdcSql),
      doc = "Row-level changelog between snapshots from manifest diffs " +
        "(inserts from new files, deletes from new delete files)"))
}
