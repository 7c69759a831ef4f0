package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.{StatsPlanner, TableStats}

/** Driver-side registry of ANALYZE-manifest statistics, keyed by table
  * location — the catalog a CBO reads. Entries are a few hundred bytes
  * each ([[TableStats]] holds counts and renderings, never data), so
  * the registry is O(#tables) however large the tables are. Populate
  * it at ingest time from q210/q211 manifests via
  * `StatsPlanner.tableStats`; [[StatsBroadcastRule]] and
  * [[StatsJoinOrderRule]] then apply the stats to every subsequent
  * UNMODIFIED `df.join(...)` in the session.
  *
  * Staleness guard: `register` snapshots the table's file listing
  * (data-file count + total bytes — a cheap metadata read, no data
  * scan) at registration time, and the rules re-check the snapshot
  * against the SCAN's own file index before trusting an entry. A
  * manifest registered at ingest keeps asserting "small" after the
  * table grows; a stale small-side estimate on a now-huge table is the
  * one way a stats-stamped broadcast could OOM an executor at scale —
  * on mismatch the rules stay silent until a re-ANALYZE re-registers.
  */
/** Shared registry-key resolution for the injected stats/zone rules: a
  * scan is identified EITHER by its catalog-table identity (a
  * `saveAsTable`/`spark.table` plan) or by its root-path SET — one path
  * for a plain directory read, many for a multi-root read like a
  * snapshot resolved across copy-on-write versions
  * ([[graft.sources.Loader.readSnapshot]]). Catalog identity is tried
  * first: it survives table relocation, and a catalog table's rootPath
  * is an implementation detail the user never typed.
  */
private[plans] object RegistryKeys {

  /** Normalize "file:/p", "/p/", "/p" to one key so registration by
    * local path matches `HadoopFsRelation.location.rootPaths`.
    */
  def norm(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  /** One key per root-path SET: order-free (sorted), so
    * `read.parquet(a, b)` and `read.parquet(b, a)` resolve alike.
    */
  def ofRoots(paths: Seq[String]): String = {
    val ns = paths.map(norm)
    if (ns.lengthCompare(1) == 0) ns.head else ns.sorted.mkString("\n")
  }

  def ofTable(db: String, table: String): String = s"table:$db.$table"

  /** Remove every entry of `byKey` whose root-path set reaches into one
    * of `dirs` (a root at or below one of them). */
  def removeUnder(byKey: java.util.concurrent.ConcurrentHashMap[String, _],
                  dirs: Seq[String]): Unit = {
    val ds = dirs.map(norm)
    byKey.keySet.removeIf(k => k.split('\n').exists(p =>
      ds.exists(d => p == d || p.startsWith(d + "/"))))
    ()
  }

  /** Lookup candidates for a scan, most specific first. */
  def candidates(lr: org.apache.spark.sql.execution.datasources.LogicalRelation,
                 loc: org.apache.spark.sql.execution.datasources.FileIndex)
      : Seq[String] =
    lr.catalogTable.map(ct => ofTable(
      ct.identifier.database.getOrElse("default"),
      ct.identifier.table)).toSeq :+
      ofRoots(loc.rootPaths.map(_.toString))
}

object StatsRegistry {

  /** Cheap table-growth fingerprint: data-file count + total bytes
    * (hidden files excluded, matching what `InMemoryFileIndex` lists).
    */
  final case class TableSnapshot(nFiles: Long, totalBytes: Long)

  private val byPath = new java.util.concurrent.ConcurrentHashMap[
    String, (TableStats, Option[TableSnapshot])]()

  private def norm(p: String): String = RegistryKeys.norm(p)

  /** Snapshot a table directory's data files through the Hadoop
    * FileSystem API (any scheme). Mirrors `InMemoryFileIndex`'s data-
    * file filter: names starting with '_' or '.' are metadata, not data.
    */
  def snapshot(path: String): TableSnapshot = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the SESSION's Hadoop conf, so spark.hadoop.* settings (s3a
    // credentials, endpoints) reach the listing on remote filesystems
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    var n = 0L; var bytes = 0L
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else { n += 1; bytes += st.getLen }
        }
      }
    walk(p)
    TableSnapshot(n, bytes)
  }

  /** Register a manifest with the current file-listing snapshot (the
    * normal ingest-time path: ANALYZE, then register).
    */
  def register(path: String, stats: TableStats): Unit =
    registerRoots(Seq(path), stats)

  /** Register under a multi-root key (e.g. a copy-on-write snapshot's
    * bucket directories): the freshness snapshot sums over all roots,
    * matching the union listing the scan's FileIndex reports.
    */
  def registerRoots(paths: Seq[String], stats: TableStats): Unit = {
    val snap = try {
      val snaps = paths.map(snapshot)
      Some(TableSnapshot(snaps.map(_.nFiles).sum,
        snaps.map(_.totalBytes).sum))
    } catch { case _: Exception => None }
    byPath.put(RegistryKeys.ofRoots(paths), (stats, snap))
    ()
  }

  /** Register under a CATALOG-TABLE identity, so `saveAsTable` →
    * `spark.table(name)` plans resolve without the user ever knowing
    * the table's storage path. The freshness snapshot is taken over
    * the catalog's location.
    */
  def registerTable(spark: org.apache.spark.sql.SparkSession,
                    name: String, stats: TableStats): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val db = ident.database.getOrElse(
      spark.sessionState.catalog.getCurrentDatabase)
    val snap = try {
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      Some(snapshot(meta.location.toString))
    } catch { case _: Exception => None }
    byPath.put(RegistryKeys.ofTable(db, ident.table), (stats, snap))
    ()
  }

  def get(path: String): Option[TableStats] =
    Option(byPath.get(norm(path))).map(_._1)
  def getSnapshot(path: String): Option[TableSnapshot] =
    Option(byPath.get(norm(path))).flatMap(_._2)
  private[plans] def getByKey(key: String): Option[TableStats] =
    Option(byPath.get(key)).map(_._1)
  private[plans] def getSnapshotByKey(key: String): Option[TableSnapshot] =
    Option(byPath.get(key)).flatMap(_._2)
  def clear(): Unit = byPath.clear()
  /** Forget every entry whose roots lie under one of `dirs` — reclaimed
    * snapshot versions, which no read can resolve to again. */
  private[graft] def forgetUnder(dirs: Seq[String]): Unit =
    RegistryKeys.removeUnder(byPath, dirs)
  def isEmpty: Boolean = byPath.isEmpty
  /** Every registered entry by registry key (an immutable copy). */
  private[graft] def entries
      : Map[String, (TableStats, Option[TableSnapshot])] = {
    import scala.jdk.CollectionConverters._
    byPath.asScala.toMap
  }
}

/** Shared scan-side stats resolution for the injected stats rules:
  * walk a join side down through projections/filters/aliases to its
  * single registered scan, collecting priceable comparison predicates
  * on the way, and turn the registered manifest into a rational
  * [[StatsPlanner.SideEst]].
  */
private[plans] object StatsLeaf {

  /** One collected comparison predicate: column, operator, and the
    * literal(s) as either integers (ints; DATE literals carry
    * days-since-epoch, the unit the manifests' date renderings parse
    * into) or strings (flag-like columns — `shipmode = 'AIR'`).
    * Comparison ops carry exactly one literal (`lit`); op "in" carries
    * the IN-list's distinct literals — a disjunction of equalities, so
    * it prices as k/ndv and zone-prunes as the OR of per-literal tests.
    */
  private[plans] final case class CmpPred(col: String, op: String,
                                          lits: Seq[Either[Long, String]]) {
    require(lits.nonEmpty, s"CmpPred($col, $op): no literals")
    /** The single literal of a comparison op (never call on "in"). */
    def lit: Either[Long, String] = lits.head
  }

  /** Integer rendering of a literal a manifest can price. DATE
    * literals carry days-since-epoch ints — the same unit
    * [[StatsPlanner.predSelectivity]] parses date renderings into.
    */
  def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: java.lang.Integer, _) => Some(v.longValue)
    case Literal(v: java.lang.Long, _)    => Some(v.longValue)
    case Literal(v: java.lang.Short, _)   => Some(v.longValue)
    case Literal(v: java.lang.Byte, _)    => Some(v.longValue)
    case _                                => None
  }
  private def litVal(e: Expression): Option[Either[Long, String]] =
    longLit(e).map(Left(_)).orElse(e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _)
          if s != null => Some(Right(s.toString))
      case _ => None
    })
  private def flip(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="
    case ">" => "<"; case ">=" => "<="; case o => o
  }

  /** Comparison predicates collected from a conjunction — equality
    * contributes the System R 1/V(R, col) selectivity (any literal
    * type), integer/date ranges contribute interval arithmetic over
    * the manifest [min, max], string literals feed the zone rule's
    * type-aware order, and an all-literal IN-list (In or the
    * optimizer's InSet form) contributes one "in" pred — k/ndv
    * selectivity, OR-of-equalities zone pruning. General disjunctions,
    * other literal types, and other predicates contribute nothing
    * (selectivity 1 — conservative: filters only shrink).
    */
  def preds(cond: Expression): Seq[CmpPred] = {
    def one(a: Expression, b: Expression, op: String) = (a, b) match {
      case (ar: AttributeReference, l: Literal) =>
        litVal(l).map(v => CmpPred(ar.name, op, Seq(v))).toSeq
      case (l: Literal, ar: AttributeReference) =>
        litVal(l).map(v => CmpPred(ar.name, flip(op), Seq(v))).toSeq
      case _ => Seq.empty
    }
    // an IN-list prices/prunes only when EVERY member is a priceable
    // literal — one unpriceable member makes the whole disjunction
    // unbounded (conservative: contribute nothing)
    def inList(col: String, vs: Seq[Option[Either[Long, String]]]) =
      if (vs.nonEmpty && vs.forall(_.isDefined))
        Seq(CmpPred(col, "in",
          vs.flatten.distinct.sortBy(_.fold(_.toString, identity))))
      else Seq.empty
    cond match {
      case And(x, y)                 => preds(x) ++ preds(y)
      case EqualTo(a, b)             => one(a, b, "=")
      case LessThan(a, b)            => one(a, b, "<")
      case LessThanOrEqual(a, b)     => one(a, b, "<=")
      case GreaterThan(a, b)         => one(a, b, ">")
      case GreaterThanOrEqual(a, b)  => one(a, b, ">=")
      case In(ar: AttributeReference, list) =>
        inList(ar.name, list.map {
          case l: Literal => litVal(l)
          case _          => None
        })
      case InSet(ar: AttributeReference, hset) =>
        inList(ar.name, hset.toSeq.map {
          case i: java.lang.Integer => Some(Left(i.longValue))
          case l: java.lang.Long    => Some(Left(l.longValue))
          case s: java.lang.Short   => Some(Left(s.longValue))
          case b: java.lang.Byte    => Some(Left(b.longValue))
          case u: org.apache.spark.unsafe.types.UTF8String
              if u != null          => Some(Right(u.toString))
          case _                    => None
        })
      case _                         => Seq.empty
    }
  }

  /** A join side resolved to its single registered scan: the scan's
    * stats, the comparison predicates collected on the way down, and
    * the group-column sets of any Aggregates passed through (each one
    * caps the side's output rows at Π ndv(group col) — the CBO
    * aggregate-cardinality bound; an Aggregate always shrinks, so
    * walking through it keeps the estimate a safe upper bound even
    * when its grouping is unpriceable).
    */
  private[plans] case class Resolved(
      stats: TableStats,
      ps: Seq[CmpPred],
      groupCaps: Seq[Seq[String]])

  private def resolve(p: LogicalPlan,
                      ps: Seq[CmpPred] = Nil,
                      caps: Seq[Seq[String]] = Nil): Option[Resolved] =
    p match {
      case Project(_, c)         => resolve(c, ps, caps)
      case Filter(cond, c)       => resolve(c, ps ++ preds(cond), caps)
      case SubqueryAlias(_, c)   => resolve(c, ps, caps)
      case a: Aggregate          =>
        // attribute groupings cap at Π ndv; derived groupings add no
        // cap (output ≤ input still holds — safe upper bound)
        val gc = a.groupingExpressions.collect {
          case ar: AttributeReference => ar.name
        }
        val cap = if (gc.length == a.groupingExpressions.length &&
                      gc.nonEmpty) Seq(gc) else Nil
        resolve(a.child, ps, caps ++ cap)
      case lr: LogicalRelation   =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            // unwrap a zone-pruned listing to the scan's ORIGINAL index:
            // the registration snapshot describes the whole table, so a
            // ZoneSkipRule rewrite in an earlier fixed-point iteration
            // must not read as table growth and silence the stats rules
            val loc = fs.location match {
              case z: ZonePrunedFileIndex => z.underlying
              case o                      => o
            }
            // catalog identity first, then the root-path set (one path
            // or many — a resolved snapshot read spans several roots)
            RegistryKeys.candidates(lr, loc).view.flatMap { key =>
              StatsRegistry.getByKey(key).filter { _ =>
                // freshness: the scan's own (driver-cached) listing
                // must match the registration-time snapshot — no I/O
                StatsRegistry.getSnapshotByKey(key).forall(snap =>
                  snap.nFiles == loc.inputFiles.length.toLong &&
                  snap.totalBytes == loc.sizeInBytes)
              }
            }.headOption.map(Resolved(_, ps, caps))
          case _ => None
        }
      case _ => None
    }

  /** Registered (and snapshot-fresh) stats of the scan under
    * projections/filters/aliases of `p`, plus the comparison
    * predicates collected on the way down. Resolution tries the
    * catalog-table identity, then the root-path set (single dir or a
    * multi-root snapshot read). Unregistered scans and scans whose
    * CURRENT file listing no longer matches the registration-time
    * snapshot → None (the rules stay silent — stale stats must never
    * stamp a plan).
    */
  def leafStats(p: LogicalPlan)
      : Option[(TableStats, Seq[CmpPred])] =
    resolve(p).map(r => (r.stats, r.ps))

  /** Rational size estimate of a join side from its registered scan:
    * rows × output width, discounted by the collected predicates'
    * selectivities, capped by any Aggregate's Π ndv(group cols) bound.
    * Duplicate (col, op, value) conjuncts are priced ONCE —
    * stacked/re-collected copies of the same filter must not compound
    * the discount under the independence assumption.
    */
  def sideEst(p: LogicalPlan): Option[StatsPlanner.SideEst] =
    resolve(p).map { case Resolved(s, ps, caps) =>
      val width =
        math.max(1L, p.output.map(_.dataType.defaultSize.toLong).sum)
      // predSelectivity returns (1,1) for manifest-unknown columns —
      // a filter we can't price never discounts
      val sels = ps.distinct.map {
        // the manifest-known guard matters here more than in the =/range
        // paths (which return (1,1) for unknown columns inside
        // predSelectivity): ndv()'s missing-column fallback is `rows`,
        // so an unguarded IN would discount by k/rows and could stamp a
        // BROADCAST hint on an arbitrarily large side
        case CmpPred(c, "in", vs) if s.cols.contains(c) =>
          // k distinct members, uniformity over distinct values:
          // min(k, ndv)/ndv — the k-fold System R equality selectivity
          val ndv = BigInt(s.ndv(c))
          (BigInt(vs.length) min ndv, ndv max 1)
        case CmpPred(c, op, Seq(Left(v)))  =>
          StatsPlanner.predSelectivity(s, c, op, v)
        case CmpPred(c, op, Seq(Right(v))) =>
          StatsPlanner.predSelectivityStr(s, c, op, v)
        case _                             => (BigInt(1), BigInt(1))
      }
      val base = StatsPlanner.SideEst(BigInt(s.rows), width,
        selNum = sels.map(_._1).product,
        selDen = sels.map(_._2).product max 1)
      caps.foldLeft(base) { (e, gc) =>
        val cap = gc.map(c => BigInt(s.ndv(c))).product max 1
        if (e.rows * e.selNum > cap * e.selDen)
          StatsPlanner.SideEst(cap, e.widthBytes)
        else e
      }
    }
}

/** Injected optimizer rule (the `LevenshteinBoundRewrite` deployment
  * pattern, registered in [[graft.GraftExtensions]]) that closes the
  * stats loop: when a join side is a scan of a table whose ANALYZE
  * manifest is registered and its estimated bytes (rows × output
  * width, Spark's own `defaultSize` accounting) fit under
  * `spark.graft.stats.broadcastThreshold` (default 10 MiB), the rule
  * stamps a BROADCAST strategy hint on that side — the identical
  * decision `StatsPlanner.decideBroadcast` makes, but applied to plans
  * the user wrote with no graft API at all.
  *
  * Why this beats size-on-disk: Spark's static planner estimates
  * relation size from FILE length, which misleads in both directions
  * (a heavily-compressed wide parquet looks small; a selective scan of
  * a huge file looks large), and JDBC/stream relations have no size at
  * all. Row-count × width from a real ANALYZE pass is the estimate a
  * CBO trusts. The rule is deliberately conservative at 100 TB scale:
  * it fires only on Join nodes carrying NO user hint, only UPWARD
  * through Project/Filter/alias (filters only shrink a side, so the
  * scan's bytes upper-bound the side), only on SNAPSHOT-FRESH stats
  * (see [[StatsRegistry]]), and only to ADD a broadcast — never to
  * forbid one — so a wrong manifest can at worst broadcast a table the
  * user could have broadcast by hand, and AQE's runtime re-planning
  * still applies everywhere the rule stays silent.
  */
object StatsBroadcastRule extends Rule[LogicalPlan] {

  val ThresholdConf = "spark.graft.stats.broadcastThreshold"

  private def canBuildRight(jt: JoinType): Boolean = jt match {
    case _: InnerLike | LeftOuter | LeftSemi | LeftAnti => true
    case _ => false
  }
  private def canBuildLeft(jt: JoinType): Boolean = jt match {
    case _: InnerLike | RightOuter => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (StatsRegistry.isEmpty) plan // fast path: no stats, no effect
    else {
      val threshold =
        conf.getConfString(ThresholdConf, (10L << 20).toString).toLong
      plan.transformUp {
        case j @ Join(l, r, jt, _, JoinHint.NONE) =>
          val lE = StatsLeaf.sideEst(l).filter(_.fitsUnder(threshold))
          val rE = StatsLeaf.sideEst(r).filter(_.fitsUnder(threshold))
          val broadcastHint = Some(HintInfo(strategy = Some(BROADCAST)))
          // prefer the smaller qualifying side; ties build right,
          // matching Spark's own BuildRight preference
          val pickRight = rE.isDefined && canBuildRight(jt) &&
            (lE.isEmpty || !canBuildLeft(jt) || rE.get.lte(lE.get))
          if (pickRight) j.copy(hint = JoinHint(None, broadcastHint))
          else if (lE.isDefined && canBuildLeft(jt))
            j.copy(hint = JoinHint(broadcastHint, None))
          else j
      }
    }
}
