package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, when}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat,
  CatalogTable, CatalogTableType}

/** One commit point per persisted artifact — the snapshot-pointer flip
  * of a table format's commit protocol (Delta Lake, Armbrust et al.,
  * VLDB 2020), built on the session catalog alone — and ONE delta
  * protocol of append-only segments behind that pointer (Delta Lake's
  * add-file log).
  *
  * An artifact is a set of MEMBER tables under one name: a postings
  * index is `t` + `t_stats`, a BPE model `t` + `t_merges`, a doc-vector
  * index `t` + `t_vocab`, an IVF index `t` (+ `t_centroids`), an IVF-PQ
  * index `t` + `t_coarse` + `t_codebook`. A [[commit]]:
  *
  *  1. writes every new member as its own external table
  *     `<member>__g<N>` at `<member path>__g<N>`. N only ever grows (it
  *     is floored at the wall clock), so a generation name never
  *     repeats and names nothing a reader could still hold;
  *  2. flips ONE pointer in ONE catalog operation: a view under the
  *     artifact's own name whose properties map each member to its
  *     physical table (and whose query selects the main member, so
  *     `spark.table(t)` and SQL keep reading the artifact);
  *  3. sweeps every generation table and directory of the artifact
  *     that the new pointer does not name.
  *
  * A crash before the flip leaves the old pointer, so the old
  * generation keeps serving and answering; the next commit sweeps the
  * orphans. A crash after the flip leaves only garbage the next commit
  * sweeps. There is no window in which members of two generations are
  * served together: readers resolve members through the pointer, and a
  * reader that needs several members of one artifact takes them all
  * from ONE pointer read ([[resolve]]).
  *
  * A delta is a list of immutable SEGMENTS the pointer names in append
  * order ([[Snapshot.segments]]). [[append]] writes ONE segment holding
  * only its own batch and flips to the base members, every earlier
  * segment and the new one — it never reads or rewrites an earlier
  * segment's payload, so B appends write B batches. A probe unions the
  * base with every segment. [[merge]] folds base ∪ segments into a new
  * base generation with no segments; a rebuild (a plain commit) also
  * flips to a map with none, so a stale segment cannot be served. A
  * family supplies only its payload, fence key, segment writer, stats
  * fold and probe union.
  *
  * Commits of one artifact are single-writer. Every `DROP TABLE`, every
  * generation name and every segment name in `src/main` lives in this
  * file (ApiSpec lints it). */
object Staged {

  private val MembersKey = "graft.members"
  private val SegmentInfix = "_delta"
  private val GenerationKey = "graft.generation"
  private val GenerationName = """(.+)__g(\d+)""".r

  /** One pointer read: the members of one artifact generation. */
  final class Snapshot private[Staged] (spark: SparkSession,
      val artifact: String, val generation: Long,
      val members: Map[String, String]) {
    def has(member: String): Boolean = members.contains(member)

    def get(member: String): Option[DataFrame] =
      members.get(member).map(spark.table)

    /** `member` from this snapshot; a name it does not hold resolves on
      * its own ([[Staged.table]]). */
    def table(member: String): DataFrame =
      get(member).getOrElse(Staged.table(spark, member))

    /** The main member of every delta segment, in append order. A
      * segment's other members are named `<segment><suffix>`. */
    lazy val segments: Seq[String] = {
      val seg = (java.util.regex.Pattern.quote(artifact) +
        SegmentInfix + """(\d+)""").r
      members.keys.toSeq.collect { case m @ seg(k) => k.toInt -> m }
        .sortBy(_._1).map(_._2)
    }

    /** The members that are not part of any segment. */
    def baseMembers: Map[String, String] = members.filter { case (m, _) =>
      !segments.exists(s => m == s || m.startsWith(s + "_"))
    }
  }

  /** The artifact (and pointer) committed under `artifact`, if any. */
  def snapshot(spark: SparkSession, artifact: String): Option[Snapshot] = {
    val cat = spark.sessionState.catalog
    val id = TableIdentifier(artifact)
    if (!cat.tableExists(id)) None
    else {
      val props = cat.getTableMetadata(id).properties
      props.get(MembersKey).map { m =>
        new Snapshot(spark, artifact, props(GenerationKey).toLong,
          m.split(',').map { kv =>
            val Array(k, v) = kv.split('='); k -> v
          }.toMap)
      }
    }
  }

  /** The artifacts `name` may belong to, longest first: the name
    * itself, then every prefix ending before an underscore. */
  private def candidates(name: String): Seq[String] =
    name +: name.indices.reverse.filter(i => i > 0 && name(i) == '_')
      .map(name.take)

  /** The snapshot whose pointer names `member` (the longest artifact
    * prefix that does). */
  private def owner(spark: SparkSession, member: String): Option[Snapshot] =
    candidates(member).iterator.flatMap(snapshot(spark, _))
      .find(_.has(member))

  /** The ONE pointer read a reader of several members of `member`'s
    * artifact takes them all from. A name no pointer owns yields an
    * empty snapshot, whose reads fall through to the catalog. */
  def resolve(spark: SparkSession, member: String): Snapshot =
    owner(spark, member)
      .getOrElse(new Snapshot(spark, member, 0L, Map.empty))

  /** Read a member by name through its artifact's pointer — `t_stats`,
    * `t_centroids` resolve without a pointer of their own. A name no
    * pointer owns is an ordinary catalog table. */
  def table(spark: SparkSession, name: String): DataFrame =
    owner(spark, name).flatMap(_.get(name)).getOrElse(spark.table(name))

  /** The members written under one generation number. */
  final class Generation private[Staged] (spark: SparkSession,
      artifact: String, path: String, val n: Long) {
    private[Staged] val written =
      scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** Write member `artifact + suffix`: `body` receives the physical
      * (table, path) pair and must write an EXTERNAL table there. */
    def write(suffix: String = "")(body: (String, String) => Unit): Unit = {
      val tbl = s"$artifact${suffix}__g$n"
      val p = s"$path${suffix}__g$n"
      deleteDir(spark, p)
      body(tbl, p)
      written(artifact + suffix) = tbl
    }

    /** [[write]] a frame as a plain external table. */
    def save(suffix: String, frame: DataFrame): Unit =
      write(suffix) { (tbl, p) =>
        frame.write.option("path", p).mode(SaveMode.Overwrite)
          .saveAsTable(tbl)
      }
  }

  /** Commit one generation of `artifact`: `write` writes the new
    * members, `keep` carries members of the snapshot the writer read
    * (member → physical table), then ONE pointer flip publishes
    * `keep ++ written` and the unnamed generations are swept. The
    * main member (`artifact` itself) must be in the new map. */
  def commit(spark: SparkSession, artifact: String, path: String,
      keep: Map[String, String] = Map.empty)(
      write: Generation => Unit): Snapshot = {
    val old = snapshot(spark, artifact)
    val seen = old.map(_.generation).toSeq ++
      generationTables(spark, artifact).map(_._3)
    val g = new Generation(spark, artifact, path,
      math.max(System.currentTimeMillis(), (0L +: seen).max + 1))
    write(g)
    val members = keep ++ g.written
    require(members.contains(artifact),
      s"commit of $artifact names no main member")
    flip(spark, artifact, g.n, members, old.isDefined)
    sweep(spark, artifact, members)
    sweepDirs(spark, artifact, path,
      members.keySet ++ old.map(_.members.keySet).getOrElse(Set.empty),
      members.values.toSet)
    new Snapshot(spark, artifact, g.n, members)
  }

  /** Segment `k` (1-based, in append order) of `artifact`: its main
    * member's name. */
  def segment(artifact: String, k: Int): String =
    s"$artifact$SegmentInfix$k"

  /** The ONE delta append. `payload` derives the batch's rows from the
    * resolved snapshot (its frozen models); ONE aggregate then counts
    * the batch's rows and its `key`s already in the base or in a live
    * segment (a left-semi scan of the key column against the broadcast
    * batch keys), and a non-empty disjoint batch lands as ONE new
    * segment: `write` receives the generation, the segment's suffix and
    * the rows, and the flip names every base member, every earlier
    * segment and the new one. An empty batch writes nothing. A crash
    * before the flip serves the earlier segments; a retry lands the
    * batch once. `face` names the append in its messages. */
  def append(spark: SparkSession, artifact: String, path: String,
      face: String, key: String)(payload: Snapshot => DataFrame)(
      write: (Generation, String, DataFrame) => Unit): Unit = {
    val snap = resolve(spark, artifact)
    require(snap.has(artifact),
      s"$face: no base index $artifact — build it first")
    val rows = payload(snap)
    val keys = broadcast(rows.select(col(key)))
    def clashes(member: String, side: Int): DataFrame =
      snap.table(member).select(col(key)).join(keys, Seq(key), "left_semi")
        .select(lit(side).as("side"))
    def of(side: Int) = count(when(col("side") === side, lit(1)))
    val fence = (clashes(artifact, 0) +: snap.segments.map(clashes(_, 1)) :+
        rows.select(lit(2).as("side")))
      .reduce(_.unionByName(_)).agg(of(0), of(1), of(2)).head()
    require(fence.getLong(0) == 0L,
      s"$face($artifact): ${fence.getLong(0)} rows of already-indexed " +
        s"${key}s in the delta batch — a delta holds only NEW rows " +
        "(re-ingests go through a rebuild or the merge cadence)")
    require(fence.getLong(1) == 0L,
      s"$face($artifact): ${fence.getLong(1)} rows of ${key}s already in " +
        "the live delta — batches must be disjoint")
    if (fence.getLong(2) > 0L) {
      val suffix = segment("", snap.segments.size + 1)
      commit(spark, artifact, path, keep = snap.members)(
        write(_, suffix, rows))
    }
  }

  /** The ONE merge: `write` folds base ∪ every segment of the snapshot
    * into new base members, and ONE flip publishes them with the kept
    * base members and no segment. A crash before the flip serves base ∪
    * segments unchanged; with no segment this is a no-op. */
  def merge(spark: SparkSession, artifact: String, path: String)(
      write: (Generation, Snapshot) => Unit): Unit = {
    val snap = resolve(spark, artifact)
    if (snap.segments.nonEmpty)
      commit(spark, artifact, path, keep = snap.baseMembers)(
        write(_, snap))
  }

  /** Drop an artifact: its pointer (or whatever table holds the name)
    * and every generation table it owns, data included. */
  def drop(spark: SparkSession, artifact: String): Unit = {
    dropObject(spark, artifact)
    sweep(spark, artifact, Map.empty)
  }

  /** The ONE catalog operation that publishes a generation. */
  private def flip(spark: SparkSession, artifact: String, n: Long,
      members: Map[String, String], exists: Boolean): Unit = {
    val cat = spark.sessionState.catalog
    val db = cat.getCurrentDatabase
    val text = s"SELECT * FROM `$db`.`${members(artifact)}`"
    val pointer = CatalogTable(
      identifier = TableIdentifier(artifact, Some(db)),
      tableType = CatalogTableType.VIEW,
      storage = CatalogStorageFormat.empty,
      schema = spark.table(members(artifact)).schema,
      viewText = Some(text),
      viewOriginalText = Some(text),
      properties = CatalogTable.catalogAndNamespaceToProps(
          "spark_catalog", Seq(db)) ++ Map(
        MembersKey -> members.map { case (m, t) => s"$m=$t" }.mkString(","),
        GenerationKey -> n.toString))
    if (exists) cat.alterTable(pointer)
    else {
      // a first commit replaces whatever else holds the name
      dropObject(spark, artifact)
      cat.createTable(pointer, ignoreIfExists = false)
    }
  }

  /** (table, member, generation) of every generation-named table whose
    * member name starts with `artifact`. */
  private def generationTables(spark: SparkSession,
      artifact: String): Seq[(String, String, Long)] = {
    val cat = spark.sessionState.catalog
    cat.listTables(cat.getCurrentDatabase, s"$artifact*__g*").map(_.table)
      .collect {
        case t @ GenerationName(m, n)
            if m == artifact || m.startsWith(artifact + "_") =>
          (t, m, n.toLong)
      }
  }

  /** Drop the generation tables of `artifact` that `members` does not
    * name. A table another pointer serves, or whose member belongs to a
    * longer artifact name with a pointer of its own (`t_post` next to
    * `t`), is left alone. */
  private def sweep(spark: SparkSession, artifact: String,
      members: Map[String, String]): Unit = {
    val live = members.values.toSet
    generationTables(spark, artifact).filterNot(t => live(t._1))
        .foreach { case (t, m, _) =>
      val elsewhere = candidates(m).filter(_ != artifact)
        .flatMap(snapshot(spark, _)).exists(o =>
          o.artifact.length > artifact.length || o.members.values.exists(_ == t))
      if (!elsewhere) {
        val loc = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(t)).location
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        deleteDir(spark, loc.toString)
      }
    }
  }

  /** Delete generation directories of `members` that no live table
    * names — what a crash before a table's catalog entry leaves. */
  private def sweepDirs(spark: SparkSession, artifact: String,
      path: String, members: Set[String], live: Set[String]): Unit = {
    val root = new Path(path)
    val parent = root.getParent
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (parent != null && fs.exists(parent)) {
      val bases = members.map(m => root.getName + m.stripPrefix(artifact))
      val liveDirs = live.collect { case GenerationName(m, n) =>
        s"${root.getName}${m.stripPrefix(artifact)}__g$n"
      }
      fs.listStatus(parent).map(_.getPath).foreach { p =>
        p.getName match {
          case d @ GenerationName(b, _) if bases(b) && !liveDirs(d) =>
            fs.delete(p, true)
          case _ =>
        }
      }
    }
  }

  private def dropObject(spark: SparkSession, name: String): Unit = {
    val cat = spark.sessionState.catalog
    val id = TableIdentifier(name)
    if (cat.tableExists(id)) {
      val kind =
        if (cat.getTableMetadata(id).tableType == CatalogTableType.VIEW)
          "VIEW" else "TABLE"
      spark.sql(s"DROP $kind IF EXISTS `$name`")
    }
  }

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
}
