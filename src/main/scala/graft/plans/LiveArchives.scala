package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, InsertIntoStatement, LogicalPlan, MergeAction, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col

import graft.io.Tables

/** LIVE SQL relations over manifested archives.
  *
  * [[Tables.registerManifestedSql]] publishes a SNAPSHOT view — the
  * manifest resolved at registration, commits after it invisible
  * until re-registration. That is the right default for a dashboard,
  * but it leaves the SQL surface one step behind the API: every API
  * read ([[Tables.readManifested]]) resolves the CURRENT manifest per
  * query, while the SQL user must know to re-register. A live
  * registration closes that gap the Spark way: an analyzer
  * RESOLUTION rule (injected by [[GraftExtensions]]) substitutes a
  * registered name's `UnresolvedRelation` with the archive's
  * current-read plan AT ANALYSIS TIME, so `spark.sql("… FROM name")`
  * always answers from the latest committed manifest — still never a
  * half-landed commit (each query is one consistent snapshot; the
  * manifest CAS is the atomicity), just always the newest one.
  *
  * Because the substitution happens before optimization and splices
  * the very plan the API read produces, the whole optimizer surface
  * rides along unchanged: [[AutoFileSkip]] prunes files through the
  * sidecars, [[ManifestStatsRule]] attaches commit-time stats under
  * CBO, and a tombstone-masked registration serves the DV-consuming
  * live state ([[Tables.readMasked]]). A DSv2 catalog
  * would be the other route to always-current SQL, but its scans
  * plan as `DataSourceV2Relation` — OUTSIDE the file-source relation
  * shape every sidecar rule matches — so it would trade currency for
  * the engine's entire pruning/stats surface; the resolution rule
  * keeps both.
  *
  * Precedence: Spark's own `ResolveRelations` runs in the same
  * fixpoint, so a temp view or catalog table with the same name wins
  * and the live registration is shadowed (pinned in
  * LiveArchiveSpec). Names are matched case-insensitively,
  * single-part only. Registrations are session-scoped metadata —
  * zero data movement; per-query cost is one manifest-pointer
  * resolve (the file listing behind it is memoized per version by
  * the snapshot memo).
  */
object LiveArchives {

  /** One live registration: where the archive lives and how to read
    * it. `tombPath`/`keyCol` serve the tombstone-masked live state;
    * `asOf` pins a manifest version (reproducible-dashboard shape —
    * re-resolved per query, so it survives session cache clears and
    * keeps answering after further commits, unlike a snapshot view
    * it never advances); `consistentRoots` gates an epoch-partitioned
    * topology store at the commit watermark / abort mask
    * ([[Tables.consistentViewAcross]]) so a SQL consumer can never
    * read a half-landed front-door epoch — the registration is then
    * READ-ONLY (mutations go through the front door, which is what
    * writes the epochs and markers the gate trusts). `layout` is how
    * the archive keeps its versions. */
  final case class LiveReg(path: String, tombPath: Option[String],
      keyCol: Option[String], asOf: Option[Long],
      consistentRoots: Seq[String] = Nil,
      layout: Tables.Layout = Tables.Layout.Manifested)

  private val regs =
    new java.util.concurrent.ConcurrentHashMap[String, LiveReg]()

  /** Session component of a registration key: the session's UUID —
    * unique for the session's lifetime and never reused, unlike
    * `System.identityHashCode` (which can collide between two live
    * sessions and, worse, lets a dead session's entry resolve for a
    * future session that lands on the same hash). */
  private def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.GraftColumnBridge.sessionUUID(spark)

  private def key(spark: SparkSession, name: String): String =
    s"${sessionKey(spark)}#${name.toLowerCase(java.util.Locale.ROOT)}"

  def register(spark: SparkSession, name: String, reg: LiveReg): Unit = {
    require(name.nonEmpty && !name.contains("."),
      s"live archive names are single-part, got '$name'")
    // keyCol ALONE is legal: it is the row-identity column SQL MERGE
    // needs, with or without a tombstone store. tombPath still
    // requires it (the masking anti-join is keyed).
    require(reg.tombPath.isEmpty || reg.keyCol.isDefined,
      "tombPath needs keyCol (the masking anti-join is keyed)")
    require(reg.asOf.isEmpty || reg.tombPath.isEmpty,
      "asOf pins a physical snapshot — tombstone masking applies to " +
        "the live state only")
    require(reg.asOf.isEmpty || reg.consistentRoots.isEmpty,
      "asOf pins a physical snapshot — the consistent-view gate " +
        "tracks the LIVE watermark; pick one")
    regs.put(key(spark, name), reg)
  }

  def unregister(spark: SparkSession, name: String): Unit =
    regs.remove(key(spark, name))

  private[plans] def lookup(spark: SparkSession,
                            name: String): Option[LiveReg] =
    Option(regs.get(key(spark, name)))

  /** The live registration for a name, UNLESS a temp view shadows it
    * — a shadowing view resolves to the same SubqueryAlias-by-name
    * shape a substituted live read does, and a DML statement must
    * never hijack past a shadow onto the archive. */
  private[plans] def unshadowed(spark: SparkSession,
                                name: String): Option[LiveReg] =
    lookup(spark, name).filter(_ =>
      spark.sessionState.catalog.getTempView(name).isEmpty &&
        spark.sessionState.catalog.getGlobalTempView(name).isEmpty)

  /** Stamped on the `SubqueryAlias` a live-read substitution places
    * (value = the registered name), so the DML walk matches ONLY the
    * node this rule created — never a coincidentally-named user
    * alias. Tags survive analyzer plan copies (`mapChildren` /
    * `makeCopy` copy tags), so the stamp is still on the node when
    * the DML case fires later in the same fixpoint. */
  private[plans] val SubstitutedTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[String](
      "graft_live_substituted")

  /** The version stamp the substituted read resolved (unpinned regs
    * only; [[Tables.Layout.snapshot]]) — the DML snapshot for the
    * copy-on-write conflict check. Captured BEFORE the read plan is built, so it
    * is ≤ the version the plan actually reads: a commit landing
    * between the two at worst refuses SPURIOUSLY (loud, re-runnable),
    * never silently. */
  private[plans] val BaseVersionTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Long](
      "graft_live_base_version")

  /** Evaluate a `TIMESTAMP AS OF` expression to epoch millis: any
    * foldable expression castable to timestamp (string literals take
    * the session timezone, exactly like a CAST in query text). */
  private[plans] def evalTsMillis(spark: SparkSession, name: String,
                                  e: Expression): Long = {
    require(e.resolved && e.foldable,
      s"live archive '$name': TIMESTAMP AS OF takes a literal " +
        s"timestamp, got '${e.sql}'")
    val micros =
      try org.apache.spark.sql.catalyst.expressions.Cast(e,
          org.apache.spark.sql.types.TimestampType,
          Some(spark.sessionState.conf.sessionLocalTimeZone))
        .eval(null)
      catch {
        case scala.util.control.NonFatal(ex) =>
          throw new IllegalArgumentException(
            s"live archive '$name': TIMESTAMP AS OF could not parse " +
              s"'${e.sql}' as a timestamp", ex)
      }
    require(micros != null,
      s"live archive '$name': TIMESTAMP AS OF could not parse " +
        s"'${e.sql}' as a timestamp")
    micros.asInstanceOf[Long] / 1000L
  }

  /** The stamped snapshot version of the DML target's substituted
    * alias, if any. */
  private[plans] def liveTargetBase(plan: LogicalPlan): Option[Long] =
    plan match {
      case a: SubqueryAlias =>
        a.getTagValue(BaseVersionTag)
          .orElse(liveTargetBase(a.child))
      case _ => None
    }

  /** Peel alias layers off a DML target to find the SUBSTITUTED live
    * read: `MERGE INTO name t` / `UPDATE name AS x` wrap the
    * substituted `SubqueryAlias(name, …)` in a further user-alias
    * layer, so the registered name may sit one (or more) aliases
    * down. Only an alias carrying [[SubstitutedTag]] matches —
    * matching by NAME would let `DELETE FROM events t` hijack onto a
    * registration that happens to be called `t` (tombstones landing
    * on the wrong archive), and a temp view's expansion never
    * carries the tag, so a shadowing view still routes to Spark's
    * own error path. */
  private[plans] def liveTarget(spark: SparkSession,
                                plan: LogicalPlan)
      : Option[(String, LiveReg)] = plan match {
    case a: SubqueryAlias =>
      a.getTagValue(SubstitutedTag) match {
        case Some(n) if a.identifier.name == n =>
          unshadowed(spark, n).map(n -> _)
        case _ => liveTarget(spark, a.child)
      }
    case _ => None
  }

  private[plans] def resolve(spark: SparkSession,
                             reg: LiveReg): LogicalPlan = {
    val df = (reg.asOf, reg.tombPath, reg.keyCol) match {
      case (Some(v), _, _) => reg.layout.readAt(spark, reg.path, v)
      case (_, Some(t), Some(k)) =>
        Tables.readMasked(spark, reg.path, t, k, reg.layout)
      case _ => reg.layout.read(spark, reg.path)
    }
    // the consistent-view gate composes OVER the (possibly masked)
    // live read: epochs above any root's committed watermark — or
    // aborted in any root — are invisible to the SQL name, exactly
    // as the API's consistentViewAcross consumer sees the store
    val gated =
      if (reg.consistentRoots.isEmpty) df
      else Tables.consistentViewAcross(df, reg.consistentRoots)
    // SQL schema evolution: declared-but-not-yet-carried columns
    // read as null — the manifested layout's implicit merge, made
    // visible the moment the ALTER lands (bucketed archives evolve
    // physically and never declare, so nothing widens there)
    Tables.withDeclaredColumns(spark, reg.path, gated)
      .queryExecution.analyzed
  }
}

/** The analyzer rule: a single-part relation name with a live
  * registration in THIS session resolves to the archive's
  * current-read plan, and an INSERT over such a name becomes a
  * [[WriteArchiveCommand]] — the SQL write path onto the engine's
  * commit verbs. Runs at the end of the resolution fixpoint —
  * anything Spark's own resolution already claimed (temp views,
  * catalog tables) never reaches it. */
case class ResolveLiveArchives(session: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
          LiveArchives.lookup(session, u.multipartIdentifier.head)
            .isDefined =>
        val name = u.multipartIdentifier.head
        val reg = LiveArchives.lookup(session, name).get
        // snapshot version FIRST, then the plan — see BaseVersionTag
        val baseV: Option[Long] =
          if (reg.asOf.isEmpty && reg.layout.exists(session, reg.path))
            reg.layout.snapshot(session, reg.path).stamp
          else None
        val alias =
          SubqueryAlias(name, LiveArchives.resolve(session, reg))
        alias.setTagValue(LiveArchives.SubstitutedTag, name)
        baseV.foreach(v =>
          alias.setTagValue(LiveArchives.BaseVersionTag, v))
        alias

      // SQL time travel in query text: `FROM <live name> VERSION AS
      // OF n` resolves through readManifestedAt, and `TIMESTAMP AS
      // OF ts` through the commit instants the version pointers
      // already carry (their publish mtime — no extra metadata
      // write), resolving to the latest version committed ≤ ts —
      // reproducible reads without a dedicated pinned registration.
      // Temp-view shadows stay on Spark's own error path (unshadowed
      // check); a timestamp predating the oldest RETAINED commit
      // refuses loudly (vacuum prunes history).
      case org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: UnresolvedRelation, ts, ver)
          if u.multipartIdentifier.size == 1 &&
            LiveArchives.unshadowed(session, u.multipartIdentifier.head)
              .isDefined =>
        val name = u.multipartIdentifier.head
        val reg = LiveArchives.unshadowed(session, name).get
        val v: Long = (ts, ver) match {
          case (Some(tsExpr), None) =>
            Tables.manifestVersionAsOf(session, reg.path,
              LiveArchives.evalTsMillis(session, name, tsExpr), reg.layout)
          case (None, Some(verStr)) =>
            try verStr.toLong catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"live archive '$name': VERSION AS OF takes a " +
                    s"manifest version number, got '$verStr'")
            }
          case _ => throw new IllegalArgumentException(
            s"live archive '$name': time travel takes VERSION AS OF " +
              "<n> or TIMESTAMP AS OF <ts>")
        }
        SubqueryAlias(name,
          reg.layout.readAt(session, reg.path, v).queryExecution.analyzed)

      // SQL-visible history: `<name>$history` (backticked in query
      // text) reads one row per retained commit with its instant —
      // DESCRIBE HISTORY as a relation, so it joins/filters like any
      // table. Driver-side over the pointer files alone; no data IO
      // at any table size.
      case u: UnresolvedRelation
          if u.multipartIdentifier.size == 1 &&
            u.multipartIdentifier.head.endsWith("$history") &&
            LiveArchives.unshadowed(session, u.multipartIdentifier
              .head.stripSuffix("$history")).isDefined =>
        val full = u.multipartIdentifier.head
        val reg = LiveArchives
          .unshadowed(session, full.stripSuffix("$history")).get
        SubqueryAlias(full,
          reg.layout.history(session, reg.path).queryExecution.analyzed)

      // SQL schema evolution: `ALTER TABLE <live name> ADD COLUMNS`
      // routes onto the engine's evolution verbs — a physical staged
      // swap for bucketed archives (schema is part of the layout
      // contract), a persisted declaration for manifested ones
      // (reads merge by name; the new columns are visible — null —
      // immediately and INSERTs may carry them). Add-a-column only;
      // anything else refuses with the reason.
      case org.apache.spark.sql.catalyst.plans.logical.AddColumns(
          u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
          colsToAdd)
          if u.multipartIdentifier.size == 1 &&
            LiveArchives.unshadowed(session, u.multipartIdentifier.head)
              .isDefined =>
        val name = u.multipartIdentifier.head
        val reg = LiveArchives.unshadowed(session, name).get
        if (reg.asOf.isDefined) throw new IllegalArgumentException(
          s"live archive '$name' is pinned asOf v${reg.asOf.get} — " +
            "a pinned snapshot is read-only")
        if (reg.consistentRoots.nonEmpty)
          throw new IllegalArgumentException(
            s"live archive '$name' sits behind the consistent-view " +
              "gate — read-only; evolve through the front door")
        val fields = colsToAdd.map { c =>
          require(c.path.isEmpty,
            s"ALTER TABLE '$name': nested column additions are not " +
              "supported — top-level columns only")
          require(c.position.isEmpty,
            s"ALTER TABLE '$name': FIRST/AFTER is not supported — " +
              "added columns append (reads merge by name)")
          require(c.default.isEmpty,
            s"ALTER TABLE '$name': DEFAULT is not supported — a new " +
              "column reads null until data carries it")
          require(c.nullable,
            s"ALTER TABLE '$name': NOT NULL cannot backfill " +
              "existing rows — add the column nullable")
          org.apache.spark.sql.types.StructField(c.colName,
            c.dataType, nullable = true)
        }
        EvolveArchiveCommand(name, reg.path, reg.layout,
          org.apache.spark.sql.types.StructType(fields))

      // the INSERT target is an ARGUMENT of InsertIntoStatement, not
      // a child — tree traversals never descend into it (Spark's own
      // ResolveRelations handles it with an explicit case, and so
      // must this rule). Matching the STILL-UNRESOLVED relation also
      // settles precedence for free: a same-name temp view or
      // catalog table is resolved by Spark's rules earlier in the
      // batch, so this case only ever sees names nothing else
      // claimed — a write can never hijack past a shadow.
      case i @ InsertIntoStatement(u: UnresolvedRelation, partSpec,
          cols, q, overwrite, ifPartitionNotExists, byName)
          if u.multipartIdentifier.size == 1 && q.resolved &&
            LiveArchives.lookup(session, u.multipartIdentifier.head)
              .isDefined =>
        val name = u.multipartIdentifier.head
        val reg = LiveArchives.lookup(session, name).get
        if (partSpec.nonEmpty) throw new IllegalArgumentException(
          s"INSERT into live archive '$name': static PARTITION " +
            "specs are not supported — partition values come from " +
            "the rows (dynamic), like every engine commit verb")
        if (ifPartitionNotExists) throw new IllegalArgumentException(
          s"INSERT into live archive '$name': IF NOT EXISTS has no " +
            "manifested-commit equivalent")
        if (reg.asOf.isDefined) throw new IllegalArgumentException(
          s"live archive '$name' is pinned asOf v${reg.asOf.get} — " +
            "a pinned snapshot is read-only")
        if (reg.consistentRoots.nonEmpty)
          throw new IllegalArgumentException(
            s"live archive '$name' sits behind the consistent-view " +
              "gate — read-only; mutate through the front door that " +
              "commits its epochs and markers")
        if (reg.layout == Tables.Layout.Bucketed)
          throw new IllegalArgumentException(
            s"'$name' is a BUCKETED archive — rows land through the " +
              "claim-guarded epoch front door (ingestBucketedArchive), " +
              "not SQL INSERT; SQL DELETE is supported")
        WriteArchiveCommand(name, reg.path, cols, q, overwrite, byName)

      // DELETE FROM <live name> WHERE … — the SQL face of the RTBF
      // lifecycle. The table IS a child of DeleteFromTable, so by
      // this point the read case has substituted it; the liveTarget
      // walk peels user aliases (`DELETE FROM name t`) and keeps a
      // shadowing view's DELETE on Spark's own error path (a write
      // must never hijack past a shadow).
      case DeleteFromTable(a: SubqueryAlias, cond)
          if cond.resolved && a.child.resolved &&
            LiveArchives.liveTarget(session, a).isDefined =>
        val (name, reg) = LiveArchives.liveTarget(session, a).get
        if (reg.asOf.isDefined) throw new IllegalArgumentException(
          s"live archive '$name' is pinned asOf v${reg.asOf.get} — " +
            "a pinned snapshot is read-only")
        if (reg.consistentRoots.nonEmpty)
          throw new IllegalArgumentException(
            s"live archive '$name' sits behind the consistent-view " +
              "gate — read-only; mutate through the front door that " +
              "commits its epochs and markers")
        if (reg.tombPath.isEmpty || reg.keyCol.isEmpty)
          throw new IllegalArgumentException(
            s"live archive '$name' was registered without " +
              "tombPath/keyCol — DELETE needs the tombstone store " +
              "and the row-identity column; re-register with both")
        DeleteArchiveCommand(name, reg.path, reg.tombPath.get,
          reg.keyCol.get, cond, a, reg.layout)

      // UPDATE <live name> SET … [WHERE …] — the SQL face of the
      // partition-granular copy-on-write rewrite
      // ([[graft.io.Tables.updateManifested]]): only partitions
      // containing or receiving an updated row are rewritten, the
      // rest carry by manifest reference. Same shadow/asOf discipline
      // as DELETE; no row-identity column needed (keyless COW).
      case UpdateTable(a: SubqueryAlias, assignments, cond)
          if a.child.resolved &&
            assignments.forall(_.resolved) && cond.forall(_.resolved) &&
            LiveArchives.liveTarget(session, a).isDefined =>
        val (name, reg) = LiveArchives.liveTarget(session, a).get
        if (reg.asOf.isDefined) throw new IllegalArgumentException(
          s"live archive '$name' is pinned asOf v${reg.asOf.get} — " +
            "a pinned snapshot is read-only")
        if (reg.consistentRoots.nonEmpty)
          throw new IllegalArgumentException(
            s"live archive '$name' sits behind the consistent-view " +
              "gate — read-only; mutate through the front door that " +
              "commits its epochs and markers")
        if (reg.layout == Tables.Layout.Bucketed)
          throw new IllegalArgumentException(
            s"'$name' is a BUCKETED archive — its schema and bucket " +
              "layout are a physical contract with no row-level COW " +
              "rewrite; UPDATE applies to manifested archives (DELETE " +
              "is supported on both)")
        UpdateArchiveCommand(name, reg.path, reg.tombPath, reg.keyCol,
          assignments, cond, a, LiveArchives.liveTargetBase(a))

      // MERGE INTO <live name> USING … — routed onto the row-level
      // COW merge ([[graft.io.Tables.mergeIntoManifested]]): matched
      // UPDATE/DELETE, not-matched INSERT, and not-matched-by-source
      // UPDATE/DELETE all become one change batch keyed by the
      // registration's row-identity column; only partitions holding
      // a matched key or receiving a change row are rewritten.
      case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
          if m.resolved &&
            LiveArchives.liveTarget(session, m.targetTable).isDefined =>
        val (name, reg) =
          LiveArchives.liveTarget(session, m.targetTable).get
        if (reg.asOf.isDefined) throw new IllegalArgumentException(
          s"live archive '$name' is pinned asOf v${reg.asOf.get} — " +
            "a pinned snapshot is read-only")
        if (reg.consistentRoots.nonEmpty)
          throw new IllegalArgumentException(
            s"live archive '$name' sits behind the consistent-view " +
              "gate — read-only; mutate through the front door that " +
              "commits its epochs and markers")
        if (reg.layout == Tables.Layout.Bucketed)
          throw new IllegalArgumentException(
            s"'$name' is a BUCKETED archive — its schema and bucket " +
              "layout are a physical contract with no row-level COW " +
              "rewrite; MERGE applies to manifested archives (DELETE " +
              "is supported on both)")
        if (reg.keyCol.isEmpty) throw new IllegalArgumentException(
          s"live archive '$name' was registered without keyCol — " +
            "MERGE needs the row-identity column for its change " +
            "batch; re-register with keyCol")
        if (m.withSchemaEvolution) throw new IllegalArgumentException(
          s"MERGE INTO live archive '$name': WITH SCHEMA EVOLUTION " +
            "is not supported — archive schemas evolve via " +
            "evolveManifestedSchema, not per-statement")
        MergeArchiveCommand(name, reg.path, reg.tombPath,
          reg.keyCol.get, m.targetTable, m.sourceTable,
          m.mergeCondition, m.matchedActions, m.notMatchedActions,
          m.notMatchedBySourceActions,
          LiveArchives.liveTargetBase(m.targetTable))
    }
}

/** `ALTER TABLE <live archive> ADD COLUMNS` → the engine's additive
  * evolution ([[Tables.Layout.addColumns]]):
  * [[Tables.evolveBucketedArchive]] (staged physical swap) for
  * bucketed archives, [[Tables.declareManifestedColumns]] (persisted
  * declaration; implicit merge-by-name does the rest) for manifested
  * ones. Existing names refuse in the verbs. */
case class EvolveArchiveCommand(name: String, path: String,
    layout: Tables.Layout,
    newCols: org.apache.spark.sql.types.StructType)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    layout.addColumns(session, path, newCols)
    Seq.empty
  }
}

/** `INSERT INTO <live archive>` → the FAST-APPEND commit
  * ([[Tables.appendManifested]] — bytes landed are the inserted
  * rows'); `INSERT OVERWRITE` → dynamic partition overwrite
  * ([[Tables.upsertManifested]] replacing exactly the partitions the
  * inserted rows contain, carrying the rest — the
  * `partitionOverwriteMode=dynamic` semantics, which is the only
  * overwrite a manifested archive's commit model expresses). The
  * source query aligns to the archive's schema by position (or by
  * name under `BY NAME` / an explicit column list covering the
  * schema exactly), with types cast to the archive's. Partition
  * columns are read off the live manifest's entry keys — the archive
  * itself is the one source of truth for its layout. */
case class WriteArchiveCommand(name: String, path: String,
    userCols: Seq[String], query: LogicalPlan,
    overwrite: Boolean, byName: Boolean) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftColumnBridge.ofRows(session, query)
    // the target schema INCLUDES declared-but-not-yet-carried
    // columns (SQL ALTER TABLE ADD COLUMNS): an INSERT may carry
    // them; one that omits them null-fills — old writers keep
    // committing across an evolution, the engine-wide contract
    val target = Tables.withDeclaredColumns(session, path,
      Tables.readManifested(session, path)).schema
    val (_, parts) = Tables.resolveManifest(session, path)
    require(parts.nonEmpty,
      s"live archive '$name' at $path lists no partitions — nothing " +
        "was ever written, so its partition layout is unknown; seed " +
        "it with writeManifested first")
    val partCols = parts.keys.head.split("/").toSeq
      .map(_.split("=", 2)(0))
    val tnames = target.fields.map(_.name.toLowerCase).toSet
    def requireKnownAndPartitioned(cols: Seq[String]): Unit = {
      val unknown = cols.filterNot(c => tnames.contains(c.toLowerCase))
      require(unknown.isEmpty,
        s"INSERT into '$name' names unknown columns " +
          s"[${unknown.mkString(", ")}] — the archive has " +
          s"(${target.fields.map(_.name).mkString(", ")}); evolve " +
          "the schema first (ALTER TABLE ADD COLUMNS)")
      partCols.foreach(pc => require(
        cols.exists(_.equalsIgnoreCase(pc)),
        s"INSERT into '$name' must supply partition column '$pc' — " +
          "a partial insert would need null partition keys"))
    }
    val named =
      if (userCols.nonEmpty) {
        require(userCols.size == src.schema.size,
          s"INSERT column list names ${userCols.size} columns but the " +
            s"query produces ${src.schema.size}")
        requireKnownAndPartitioned(userCols)
        src.toDF(userCols: _*)
      } else if (byName) {
        requireKnownAndPartitioned(src.schema.fieldNames.toSeq)
        src
      } else {
        require(src.schema.size == target.size,
          s"INSERT by position into '$name' needs ${target.size} " +
            s"columns (${target.fields.map(_.name).mkString(", ")}), " +
            s"got ${src.schema.size}")
        src.toDF(target.fields.map(_.name).toIndexedSeq: _*)
      }
    val aligned = named.select(target.fields.toSeq.map { f =>
      val have = named.columns.exists(_.equalsIgnoreCase(f.name))
      (if (have) col(f.name)
       else org.apache.spark.sql.functions.lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)
    if (overwrite)
      Tables.upsertManifested(aligned, path, partCols, _ => false)
    else
      Tables.appendManifested(aligned, path, partCols)
    Seq.empty
  }
}

/** `DELETE FROM <live archive> WHERE …` → the RTBF lifecycle: the
  * victim KEYS (the masked live rows matching the predicate,
  * projected to the registration's `keyCol`) land as a tombstone
  * epoch on the DELETE lane (≥ `DeleteEpochBase`, next free), and
  * the deletion-vector sidecar is rebuilt at delete time — exactly
  * the discipline [[Tables.computeDeletionVectors]] documents — so
  * subsequent masked reads stay on the positional fast path and the
  * eventual physical retirement knows its victim files without a
  * scan. Rows disappear from every masked view immediately; bytes
  * are not rewritten until a fold retires them (mask semantics, the
  * only delete a 100 TB store can afford per-statement). Idempotent:
  * re-deleting the same predicate re-lands the same keys at a new
  * epoch — the masked state is unchanged. */
case class DeleteArchiveCommand(name: String, path: String,
    tombPath: String, keyCol: String, condition: Expression,
    source: LogicalPlan, layout: Tables.Layout)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    val victims = org.apache.spark.sql.GraftColumnBridge
      .ofRows(session, Filter(condition, source))
      .select(col(keyCol)).distinct().localCheckpoint()
    try {
      if (victims.isEmpty) return Seq.empty // nothing matched: no epoch
      // Epoch choice is the race, not the manifest pointer: two
      // concurrent DELETEs picking the SAME epoch would have the CAS
      // loser's replace-per-epoch retry REPLACE the winner's epoch
      // partition (resurrecting its deleted rows). The epoch is
      // therefore ALLOCATED under an exclusive claim
      // ([[Tables.claimDeleteEpoch]] — publishExclusive per number,
      // bump-on-conflict): concurrent statements get disjoint epochs
      // by construction, so the entry-merging CAS retry inside
      // ingestTombstones is conflict-free — each racer only ever
      // replaces its OWN epoch's entry.
      val epoch = Tables.claimDeleteEpoch(session, tombPath)
      Tables.ingestTombstones(victims, tombPath, epoch)
      Tables.computeDeletionVectors(session, path, tombPath, keyCol,
        layout)
      Seq.empty
    } finally graft.ops.Ckpt.release(victims)
  }
}

/** `UPDATE <live archive> SET … [WHERE …]` → the partition-granular
  * copy-on-write rewrite ([[Tables.updateManifested]]): partitions
  * containing a matching row — or receiving one, when an assignment
  * moves rows across partitions — are rewritten with the assignments
  * applied; every other partition carries by manifest reference. The
  * rewrite reads the registration's OWN view (the tombstone-masked
  * live state when `tombPath` is registered — which physically folds
  * the touched partitions' masked rows as a side effect), and when a
  * tombstone store exists the deletion-vector sidecar is rebuilt
  * after the commit so masked reads return to the positional fast
  * path immediately. */
case class UpdateArchiveCommand(name: String, path: String,
    tombPath: Option[String], keyCol: Option[String],
    assignments: Seq[Assignment], condition: Option[Expression],
    source: LogicalPlan,
    baseVersion: Option[Long] = None) extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    val src = bridge.ofRows(session, source)
    val (_, parts) = Tables.resolveManifest(session, path)
    require(parts.nonEmpty,
      s"live archive '$name' at $path lists no partitions — nothing " +
        "was ever written, so its partition layout is unknown")
    val partCols = parts.keys.head.split("/").toSeq
      .map(_.split("=", 2)(0))
    val srcNames = src.schema.fieldNames.map(_.toLowerCase).toSet
    val sets: Map[String, org.apache.spark.sql.Column] =
      assignments.flatMap { asg =>
        val colName = asg.key match {
          case a: Attribute => a.name
          case other => throw new IllegalArgumentException(
            s"UPDATE on live archive '$name': only top-level column " +
              s"assignments are supported, got '${other.sql}'")
        }
        // the generic alignment pass expands a partial SET list to
        // one assignment per column (unassigned columns keep their
        // own value) — identity assignments are dropped here so the
        // touched-partition discovery sees only REAL changes
        asg.value match {
          case v: Attribute if v.name.equalsIgnoreCase(colName) => None
          case v => Some(colName -> bridge.column(v))
        }
      }.toMap
    sets.keys.foreach(k => require(srcNames.contains(k.toLowerCase),
      s"UPDATE on live archive '$name': unknown column '$k'"))
    if (sets.isEmpty) return Seq.empty // SET x = x — nothing changes
    val cond = condition.map(bridge.column)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Tables.updateManifested(session, path, cond, sets, partCols,
      view = Some(src), expectedBase = baseVersion)
    // the rewrite made a new manifest version: rebuild the DV
    // sidecar so masked reads stay positional (stale-version
    // degrade would key-anti-join until the next delete)
    (tombPath, keyCol) match {
      case (Some(t), Some(k)) =>
        Tables.computeDeletionVectors(session, path, t, k)
      case _ =>
    }
    Seq.empty
  }
}

/** `MERGE INTO <live archive> t USING src ON … WHEN …` → one change
  * batch for the row-level COW merge ([[Tables.mergeIntoManifested]]).
  * Matched target rows take the FIRST matched action whose condition
  * holds (UPDATE → assignments applied; DELETE → flagged); source
  * rows matching no target row take the first holding not-matched
  * INSERT action; target rows matching no source row take the first
  * holding not-matched-by-source action. Rows matching no action are
  * untouched. ANSI cardinality: a target row matched by more than
  * one source row is refused loudly (a nondeterministic update), as
  * is a change batch that lands two non-insert rows on one key. */
case class MergeArchiveCommand(name: String, path: String,
    tombPath: Option[String], keyCol: String,
    target: LogicalPlan, sourcePlan: LogicalPlan,
    mergeCondition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction],
    baseVersion: Option[Long] = None)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] =
    Seq(target, sourcePlan)

  private val bridge = org.apache.spark.sql.GraftColumnBridge

  /** First-matching-action dispatch over `base`: `_graft_act` is the
    * 1-based index of the first action whose condition holds (0 =
    * none — the row is untouched and excluded), each archive column
    * takes its assigned value under the winning action (its own
    * value under a DELETE or an unassigned column; NULL for an
    * INSERT action that does not assign it), and `_graft_deleted`
    * flags DELETE winners. */
  private def applyActions(base: org.apache.spark.sql.DataFrame,
      actions: Seq[MergeAction],
      schema: org.apache.spark.sql.types.StructType,
      current: String => Option[org.apache.spark.sql.Column])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    def condOf(a: MergeAction): org.apache.spark.sql.Column =
      a.condition.map(e => coalesce(bridge.column(e), lit(false)))
        .getOrElse(lit(true))
    val act = actions.zipWithIndex.reverse
      .foldLeft(lit(0)) { case (els, (a, i)) =>
        when(condOf(a), lit(i + 1)).otherwise(els)
      }
    def assignedValue(a: MergeAction, f: org.apache.spark.sql.types
        .StructField): Option[org.apache.spark.sql.Column] = {
      val asgs = a match {
        case u: UpdateAction => u.assignments
        case i: InsertAction => i.assignments
        case _: DeleteAction => Nil
        case other => throw new IllegalArgumentException(
          s"MERGE INTO live archive '$name': unsupported action " +
            s"shape ${other.getClass.getSimpleName}")
      }
      asgs.collectFirst {
        case Assignment(k: Attribute, v)
            if k.name.equalsIgnoreCase(f.name) => bridge.column(v)
      }
    }
    val deleteIdx = actions.zipWithIndex.collect {
      case (_: DeleteAction, i) => i + 1 }
    val outCols = schema.fields.toSeq.map { f =>
      val fallback = current(f.name)
        .getOrElse(lit(null))
      actions.zipWithIndex.reverse.foldLeft(fallback) {
        case (els, (a, i)) => assignedValue(a, f) match {
          case Some(v) => when(act === lit(i + 1), v).otherwise(els)
          case None => els
        }
      }.cast(f.dataType).as(f.name)
    }
    val deleted =
      if (deleteIdx.isEmpty) lit(false)
      else act.isin(deleteIdx.map(Integer.valueOf): _*)
    // deleted/act are computed in the SAME projection as the output
    // columns: both reference the base's (target/source) attributes,
    // which the projection drops
    base.select(outCols ++ Seq(act.as("_graft_act"),
        deleted.as("_graft_deleted")): _*)
      .where(org.apache.spark.sql.functions.col("_graft_act") > 0)
      .drop("_graft_act")
  }

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val tgt = bridge.ofRows(session, target)
    val srcDf = bridge.ofRows(session, sourcePlan)
    val onC = bridge.column(mergeCondition)
    val schema = tgt.schema
    require(schema.fieldNames.exists(_.equalsIgnoreCase(keyCol)),
      s"MERGE INTO live archive '$name': registered keyCol " +
        s"'$keyCol' is not a column of the archive")
    val (_, parts) = Tables.resolveManifest(session, path)
    require(parts.nonEmpty,
      s"live archive '$name' at $path lists no partitions — nothing " +
        "was ever written, so its partition layout is unknown")
    val partCols = parts.keys.head.split("/").toSeq
      .map(_.split("=", 2)(0))
    val tgtCol: String => Option[org.apache.spark.sql.Column] = n =>
      target.output.find(_.name.equalsIgnoreCase(n))
        .map(a => bridge.column(a))
    val none: String => Option[org.apache.spark.sql.Column] =
      _ => None
    val parcels = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    if (matchedActions.nonEmpty)
      parcels += applyActions(tgt.join(srcDf, onC, "inner"),
        matchedActions, schema, tgtCol)
        .withColumn("_graft_matched", lit(true))
    if (notMatchedBySourceActions.nonEmpty)
      parcels += applyActions(tgt.join(srcDf, onC, "left_anti"),
        notMatchedBySourceActions, schema, tgtCol)
        .withColumn("_graft_matched", lit(true))
    if (notMatchedActions.nonEmpty)
      parcels += applyActions(srcDf.join(tgt, onC, "left_anti"),
        notMatchedActions, schema, none)
        .withColumn("_graft_matched", lit(false))
    val parcelSeq = parcels.result()
    if (parcelSeq.isEmpty) return Seq.empty
    val changes = parcelSeq.reduce(_.unionByName(_)).localCheckpoint()
    try {
      // ANSI cardinality: >1 non-insert change row on one key means a
      // target row was matched by several source rows (or a matched
      // and a by-source action collided) — a nondeterministic update
      val dup = changes.where(col("_graft_matched"))
        .groupBy(col(keyCol)).agg(count(lit(1)).as("_n"))
        .where(col("_n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"MERGE INTO live archive '$name': cardinality violation — " +
          s"key '${dup.headOption.map(_.get(0)).orNull}' receives " +
          "more than one matched change row (a target row matched " +
          "several source rows)")
      Tables.mergeIntoManifested(session, path,
        changes.drop("_graft_matched"), keyCol, partCols,
        deletedCol = Some("_graft_deleted"),
        expectedBase = baseVersion)
      (tombPath, Some(keyCol)) match {
        case (Some(t), Some(k)) =>
          Tables.computeDeletionVectors(session, path, t, k)
        case _ =>
      }
      Seq.empty
    } finally graft.ops.Ckpt.release(changes)
  }
}
