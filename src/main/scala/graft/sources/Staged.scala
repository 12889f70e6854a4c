package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat,
  CatalogTable, CatalogTableType}

/** One commit point per persisted artifact — the snapshot-pointer flip
  * of a table format's commit protocol (Delta Lake, Armbrust et al.,
  * VLDB 2020), built on the session catalog alone.
  *
  * An artifact is a set of MEMBER tables under one name: a postings
  * index is `t` + `t_stats` (+ `t_delta` + `t_delta_stats` while a delta
  * is live), a BPE model `t` + `t_merges`, a doc-vector index `t` +
  * `t_vocab` (+ `t_delta`), an IVF index `t` (+ `t_centroids`) (+
  * `t_delta`), an IVF-PQ index `t` + `t_coarse` + `t_codebook` (+
  * `t_delta`). A [[commit]]:
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
  * A delta is a member like any other: an append flips to a map that
  * reuses the base members and names a new delta table; a rebuild or a
  * merge flips to a map with no delta. A stale delta or a half-merge
  * therefore cannot exist.
  *
  * Commits of one artifact are single-writer. Every `DROP TABLE` and
  * every generation name in `src/main` lives in this file (ApiSpec
  * lints it). */
object Staged {

  private val MembersKey = "graft.members"
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
    generationTables(spark, artifact).foreach { case (t, m, _) =>
      val elsewhere = candidates(m).filter(_ != artifact)
        .flatMap(snapshot(spark, _)).exists(o =>
          o.artifact.length > artifact.length || o.members.values.exists(_ == t))
      if (!live(t) && !elsewhere) {
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
