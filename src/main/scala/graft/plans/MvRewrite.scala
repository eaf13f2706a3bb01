package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

/** Materialized-view rewrite (q368): the fourth injected optimizer
  * rule, and the first one that substitutes a PLAN rather than an
  * expression or a child — a registered aggregate query over the base
  * table is answered from a rename-published MV artifact instead, so
  * the physical plan carries ZERO base-table scans.
  *
  * Division of labor (the same split real MV systems use):
  *   - the REGISTRATION helper ([[MvStore.registerRollup]]) performs
  *     the derivability reasoning — the consumer's monthly rollup
  *     decomposes over the MV's daily partial sums because SUM and
  *     COUNT are self-decomposable (sum of partial sums, sum of
  *     partial counts) and month is a coarsening of day.  It builds
  *     the compensation plan (re-aggregation over the MV scan) and
  *     registers it under the consumer's marker;
  *   - the RULE ([[RewriteToMv]]) only enforces a registered
  *     substitution: it matches the Aggregate whose child exposes the
  *     per-call-unique marker column, checks the replacement's output
  *     arity/types positionally (refusing any mismatch — the
  *     soundness guard), and splices the compensation plan in with
  *     exprId-preserving aliases so every parent operator resolves
  *     unchanged.
  *
  * Scoping follows [[BloomRegistry]]: the marker is a per-call-unique
  * column name on the consumer's scan-side projection, so the rule is
  * inert for every other plan; the registry is bounded and consumers
  * unregister in `finally`.  Value identity is oracle-gated (q368's
  * DuckDB oracle recomputes from the base table) and the plan swap is
  * pinned by Batch29Spec (no lineitem scan in the rewritten plan, a
  * lineitem scan in the unregistered control).
  *
  * 100 TB shape: the MV build is ONE base-table scan into a keyed
  * aggregate (map-side combined, day×flag-sized output), paid once and
  * rename-published like every other engine artifact; each rewritten
  * consumer reads the KB..MB-sized MV instead of the 100 TB fact — the
  * canonical precomputation lever for repeated rollup dashboards.
  */
/** The aggregate-semantics fingerprint of a registered consumer: the
  * grouping-expression dataTypes, the ordered list of aggregate
  * function names, the output dataTypes, AND the grouping/measure
  * expressions themselves — GROUNDED through the marked Project down
  * to base-column terms and rendered as SQL, so two consumers whose
  * types happen to coincide but whose semantics differ (grouping on
  * commitdate instead of shipdate, a tax measure instead of a
  * discount measure) can never answer each other.  Everything here
  * survives the main optimizer batches unchanged (types are fixed at
  * analysis, sum stays sum, and the grounded expressions are the SAME
  * subtrees the analyzed template carries — the optimizer only MOVES
  * them, which grounding undoes), so a fingerprint taken from the
  * ANALYZED consumer template compares exactly against the OPTIMIZED
  * Aggregate the rule matches.
  */
final case class MvAggSignature(
    groupingTypes: Seq[DataType],
    aggFuncs: Seq[String],
    outputTypes: Seq[DataType],
    groundedSql: Seq[String])

object MvAggSignature {
  /** Substitute references to Project outputs by the Projects' own
    * expressions, all the way down the Project chain to the leaf scan
    * (passing through Filters, which define no columns) — the inverse
    * of what the consumer's builder did, landing every expression in
    * scan-column terms.  Descending the WHOLE chain matters: the
    * analyzed template keeps the table reader's cast Project separate,
    * while CollapseProject merges it into the marked Project of the
    * optimized plan — one-level grounding would render the two
    * differently and refuse every legitimate rewrite.
    */
  private def ground(e: Expression, plan: LogicalPlan): Expression =
    plan match {
      case pr: Project =>
        ground(e.transformUp {
          case a: Attribute =>
            pr.projectList.collectFirst {
              case al: Alias if al.exprId == a.exprId => al.child
              case at: Attribute if at.exprId == a.exprId => at
            }.getOrElse(a)
        }, pr.child)
      case Filter(_, child) => ground(e, child)
      case _ => e
    }

  def of(agg: Aggregate, p: Project): MvAggSignature = MvAggSignature(
    agg.groupingExpressions.map(_.dataType),
    // DISTINCT and FILTER change what an aggregate computes without
    // changing prettyName, children, or types: sum(DISTINCT x) and
    // sum(x) FILTER (WHERE …) must never fingerprint-match the plain
    // sum(x) template (ADVICE r20) — fold both modifiers into the
    // function-name component so a drifted consumer is refused
    agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression =>
        ae.aggregateFunction.prettyName +
          (if (ae.isDistinct) ":distinct" else "") +
          ae.filter.map(f => ":filter[" + ground(f, p).sql + "]").getOrElse("")
    }),
    agg.output.map(_.dataType),
    agg.groupingExpressions.map(g => ground(g, p).sql) ++
      agg.aggregateExpressions
        .flatMap(_.collect { case ae: AggregateExpression => ae })
        .flatMap(_.aggregateFunction.children)
        .map(c => ground(c, p).sql))
}

/** A registered substitution: the compensation plan plus (when the
  * registration path knows the consumer, i.e. [[MvStore.registerRollup]])
  * the consumer's aggregate fingerprint.  `signature = None` (the raw
  * [[MvRegistry.register]] path) skips the fingerprint check but
  * still passes through every structural guard in [[RewriteToMv]].
  */
final case class MvRegistration(
    replacement: LogicalPlan,
    signature: Option[MvAggSignature])

/** Entries are logical plans (larger than bitmaps), so the bound is
  * tighter.
  */
object MvRegistry extends BoundedRegistry[MvRegistration](16) {
  def register(markerAttrName: String, replacement: LogicalPlan,
      signature: Option[MvAggSignature] = None): Unit =
    register(markerAttrName, MvRegistration(replacement, signature))
}

/** Optimizer rule: an Aggregate whose child output carries a column
  * registered in [[MvRegistry]] is replaced by the registered
  * compensation plan, wrapped in a Project that re-aliases the
  * replacement's output to the Aggregate's original names AND exprIds
  * (positionally), so parents above — the consumer's Sort, any later
  * operator — resolve without re-analysis.
  *
  * Guards:
  *   - STRUCTURAL: the Aggregate's child must be the marked Project
  *     over Projects-over-a-leaf, with at most ONE deterministic
  *     Filter adjacent to the Project.  A Filter is never silently
  *     ignored: it is COMPENSATED (pulled back up through the Project,
  *     proven to commute with the aggregation — references only
  *     grouping attributes — and applied to the rollup) or the whole
  *     rewrite is refused.  Any other intervening operator refuses: a
  *     filtered aggregate must never be answered from the unfiltered
  *     MV rollup;
  *   - SEMANTIC: when the registration carries an [[MvAggSignature]]
  *     (every [[MvStore.registerRollup]] call does), the matched
  *     Aggregate's grouping types, aggregate function names, output
  *     types, AND its grouping/measure expressions grounded to
  *     base-column terms must equal the registered consumer
  *     template's — a marker reused under different aggregate
  *     semantics is refused even when every type lines up (grouping
  *     on a different column, a different measure expression);
  *   - positional arity + dataType equality between the matched
  *     Aggregate's output and the replacement's output — a
  *     registration whose shape drifted from its consumer is REFUSED
  *     (the plan runs un-rewritten, still correct);
  *   - nullability may only narrow (replacement non-nullable where the
  *     original was nullable is fine; the reverse is refused — a
  *     parent compiled against a non-nullable attribute must never
  *     see nulls).
  *
  * Idempotent: the substituted subtree reads the MV relation and
  * exposes no marker-named column, so the fixed-point batch cannot
  * match it again; the rule descends into the spliced plan harmlessly.
  */
object RewriteToMv extends Rule[LogicalPlan] {

  /** Only Projects over a leaf may sit beneath the marked Project —
    * a Filter (pushed down or otherwise), Join, Window, or nested
    * Aggregate means the consumer is NOT the registered query.
    */
  private def projectsOverLeaf(p: LogicalPlan): Boolean = p match {
    case pr: Project => projectsOverLeaf(pr.child)
    case _: LeafNode => true
    case _ => false
  }

  private def markedRegistration(p: Project): Option[MvRegistration] =
    p.output.view.flatMap(a => MvRegistry.lookup(a.name)).headOption

  /** Pull a base-column predicate back UP through the marked Project:
    * every subtree semantically equal to an alias's child becomes the
    * alias's attribute (undoing exactly the substitution
    * PushDownPredicates performed on the way down).  Residual base
    * attributes make the later references check fail — refused.
    */
  private def pullThroughProject(cond: Expression, p: Project): Expression = {
    val subst = p.projectList.collect { case al: Alias => al }
    cond.transformUp { case e =>
      subst.collectFirst {
        case al if al.child.semanticEquals(e) => al.toAttribute
      }.getOrElse(e)
    }
  }

  /** A matched consumer: the registration plus an optional
    * compensation predicate, expressed over the Aggregate's OUTPUT
    * attributes.  Shapes accepted:
    *   - Aggregate over marked Project over Project chain over a leaf — the
    *     registered query as written (no compensation);
    *   - Aggregate over marked Project over Filter over Project chain over a leaf
    *     — the predicate PushDownPredicates pushed below the Project
    *     in base-column terms: pulled back up, it must reference only
    *     grouping attributes that the Aggregate passes through to its
    *     output (a predicate on grouping columns commutes with the
    *     aggregation, so Agg(σ(base)) = σ'(Agg(base)) = σ'(MV rollup));
    *   - Aggregate over Filter over marked Project over Project chain over a leaf
    *     — same, predicate already in Project-output terms.
    * Anything else — a non-deterministic predicate, a predicate
    * touching a non-grouping column (e.g. the measure), any other
    * intervening operator — returns None and the plan runs as written.
    */
  private def matchConsumer(agg: Aggregate)
      : Option[(MvRegistration, Project, Option[Expression])] = {
    val matched = agg.child match {
      case p: Project if projectsOverLeaf(p.child) =>
        markedRegistration(p).map((_, p, None: Option[Expression]))
      case p @ Project(_, Filter(cond, below))
          if cond.deterministic && projectsOverLeaf(below) =>
        markedRegistration(p).map((_, p, Some(pullThroughProject(cond, p))))
      case Filter(cond, p: Project)
          if cond.deterministic && projectsOverLeaf(p.child) =>
        markedRegistration(p).map((_, p, Some(cond)))
      case _ => None
    }
    matched.filter { case (reg, _, condOpt) =>
      condOpt.forall { cond =>
        // compensation rebinds the predicate POSITIONALLY into the
        // replacement's output, trusting the registration's column
        // order; only the signature-carrying registration path
        // ([[MvStore.registerRollup]]) pins that order, so a
        // signature-less registration with a filtered consumer is
        // refused rather than risking a same-typed column swap
        // (ADVICE r20)
        reg.signature.isDefined && {
          // the predicate must commute with the aggregation: every
          // reference is a grouping attribute the Aggregate passes
          // through to its output (exprId-preserved by groupBy)
          val groupingIds = agg.groupingExpressions
            .collect { case a: Attribute => a.exprId }.toSet
          cond.references.forall(r => groupingIds.contains(r.exprId) &&
            agg.output.exists(_.exprId == r.exprId))
        }
      }
    }
  }

  private def shapesMatch(agg: Aggregate, rep: LogicalPlan): Boolean =
    rep.output.length == agg.output.length &&
      rep.output.zip(agg.output).forall { case (r, o) =>
        r.dataType == o.dataType && (o.nullable || !r.nullable)
      }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvRegistry.isEmpty) plan
    else plan.transform {
      case agg: Aggregate =>
        matchConsumer(agg) match {
          case Some((reg, p, condOpt)) if shapesMatch(agg, reg.replacement) &&
              reg.signature.forall(_ == MvAggSignature.of(agg, p)) =>
            // compensation: rebind the predicate's grouping attributes
            // to the replacement's positionally-matching outputs and
            // filter the (tiny) rollup before re-aliasing
            val compensated = condOpt.fold(reg.replacement) { cond =>
              Filter(cond.transform { case a: Attribute =>
                reg.replacement.output(
                  agg.output.indexWhere(_.exprId == a.exprId))
              }, reg.replacement)
            }
            Project(agg.output.zip(reg.replacement.output).map { case (o, r) =>
              Alias(r, o.name)(exprId = o.exprId)
            }, compensated)
          case _ => agg
        }
    }
}

/** The MV artifact lifecycle: build + rename-publish (the
  * [[StatsStore]] discipline applied to precomputed data instead of
  * optimizer statistics), the derivability-reasoned registration, and
  * the consumer builders q368/Batch29Spec share.
  */
object MvStore {

  private def dec4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** The MV definition: daily revenue partials per returnflag — per-row
    * revenue quantized to DECIMAL(18,4) (exact, order-independent
    * accumulation; the q01 money rule), summed per (day, flag) with the
    * partial row count.  SUM/COUNT are self-decomposable, which is what
    * makes every coarser rollup answerable from this frame.
    */
  def mvFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.lineitem(spark, sfDir)
      .select(col("l_shipdate").as("day"), col("l_returnflag").as("flag"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .groupBy("day", "flag")
      .agg(sum(col("rev")).as("rev_partial"), count(lit(1)).as("n_partial"))

  /** Fingerprint of the MV's base-table dependency — the (uri, length,
    * mtime) triples of the files the build scan ACTUALLY READS
    * (`inputFiles` off the build frame, so the witness can never
    * decouple from the scanned layout), sorted and hashed.  A listing
    * costs nothing relative to a scan and captures exactly what
    * invalidates an MV: any base file added, removed, or rewritten
    * since publish.  At 100 TB this is the same listing the scan
    * planner already performs.
    */
  def baseFingerprint(spark: SparkSession, sfDir: String): String =
    fingerprintOf(spark, mvFrame(spark, sfDir).inputFiles)

  /** Stat the inputs through the Hadoop FileSystem API (the
    * [[StatsStore.publishNamed]] discipline): `inputFiles` strings are
    * Hadoop paths, not URI-encoded java.nio paths, so this works for
    * local paths with spaces and for hdfs/s3a bases alike.
    *
    * ONE `listStatus` per parent directory, not one `getFileStatus`
    * RPC per file (ADVICE r20): a 100 TB table is thousands of files
    * in a handful of directories, and a serial per-file stat loop on
    * an object store would make every registration scale with file
    * count instead of directory count.  A listed-but-vanished input
    * surfaces as the same FileNotFoundException the per-file stat
    * threw, so [[requireFresh]]'s conservative refusal is unchanged.
    */
  private def fingerprintOf(spark: SparkSession,
      files: Array[String]): String = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    // Keyed by Option(parent) (ADVICE r21): a root/single-segment path
    // has a null parent — those fall back to one getFileStatus each
    // instead of NPE'ing the groupBy.  Per-name lookup keys results
    // back to EVERY original `u` string (names grouped, not toMap'd):
    // two distinct URI spellings of the same parent+name must both
    // fingerprint, not collapse and throw a spurious not-found.
    val lines = files.toSeq.groupBy(u => Option(new Path(u).getParent))
      .toSeq.flatMap {
        case (None, us) =>
          us.map { u =>
            val p = new Path(u)
            val st = p.getFileSystem(conf).getFileStatus(p)
            s"$u|${st.getLen}|${st.getModificationTime}"
          }
        case (Some(parent), us) =>
          val listed = parent.getFileSystem(conf).listStatus(parent)
            .iterator.map(st => st.getPath.getName -> st).toMap
          us.map { u =>
            val st = listed.getOrElse(new Path(u).getName,
              throw new java.io.FileNotFoundException(
                s"input file vanished between listing and fingerprint: $u"))
            s"$u|${st.getLen}|${st.getModificationTime}"
          }
      }.sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Build and rename-publish the MV artifact (none-or-all; a crashed
    * publish leaves the previous artifact readable), together with the
    * base table's listing fingerprint — the STALENESS witness the
    * registration helpers check.  The fingerprint is captured BEFORE
    * the build scan runs: a base mutation racing the build then fails
    * [[requireFresh]] conservatively (witness older than the data),
    * never the reverse (witness newer than the data it vouches for).
    */
  def publish(spark: SparkSession, sfDir: String, storeDir: String): Unit = {
    val frame = mvFrame(spark, sfDir)
    val fp = fingerprintOf(spark, frame.inputFiles)
    StatsStore.publishNamed(frame, storeDir, "mv_daily_rev")
    val dir = java.nio.file.Paths.get(storeDir)
    val tmp = dir.resolve(".tmp-mv_base_fp")
    java.nio.file.Files.writeString(tmp, fp)
    java.nio.file.Files.move(tmp, dir.resolve("mv_base_fp"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Staleness guard: when the store carries a publish-time base
    * fingerprint (every [[publish]] writes one — a plain file under
    * the same rename discipline as the parquet artifacts; no Spark
    * job on this path), registration REFUSES if the base table's
    * listing has changed since — a stale artifact must never silently
    * answer fresh queries; the caller re-publishes and registers
    * again.  A store without the witness (e.g. the q380 stream-merged
    * artifact, whose freshness is the stream's exactly-once protocol)
    * skips the check.
    */
  private def requireFresh(spark: SparkSession, sfDir: String,
      storeDir: String): Unit = {
    val fpPath = java.nio.file.Paths.get(storeDir, "mv_base_fp")
    if (java.nio.file.Files.exists(fpPath)) {
      val published = java.nio.file.Files.readString(fpPath)
      // a base file VANISHING between the listing and the stat is the
      // same signal as a changed fingerprint — a concurrent mutation —
      // and must surface as the documented staleness refusal, not an
      // unhandled stat error
      val current =
        try baseFingerprint(spark, sfDir)
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              "stale MV artifact: a base file disappeared while " +
                s"fingerprinting — refresh the MV before registering ($e)")
        }
      if (published != current)
        throw new IllegalStateException(
          "stale MV artifact: the base table's file listing changed " +
            "since publish — refresh the MV before registering " +
            s"(published=$published current=$current)")
    }
  }

  /** The daily partials of ONE micro-batch — the per-epoch unit the
    * streaming maintainer (q372) publishes.  Same per-row DECIMAL
    * quantization as [[mvFrame]], so epoch partials merge to the
    * batch MV exactly.
    */
  def epochPartials(batch: DataFrame): DataFrame =
    batch.select(col("day"), col("flag"),
      dec4(col("price") * (lit(1.0) - col("disc"))).as("rev"))
      .groupBy("day", "flag")
      .agg(sum(col("rev")).as("rev_partial"), count(lit(1)).as("n_partial"))

  /** Rename-publish one epoch's partials under its deterministic batch
    * id.  Idempotent under micro-batch REPLAY: a restarted batch N
    * re-publishes epoch-N over itself (one rename), never appends —
    * which is exactly why SUM-maintenance needs per-epoch artifacts
    * where the HLL maintainer (q336) could get away with idempotent
    * max-merge.
    */
  def publishEpoch(df: DataFrame, storeDir: String, batchId: Long): Unit =
    StatsStore.publishNamed(df, storeDir, f"epoch-$batchId%03d")

  /** The compensation plan: the consumer's monthly rollup re-derived
    * over the MV — month coarsens day, total revenue = sum of daily
    * DECIMAL partials (exact), line count = sum of daily counts
    * (coalesced to keep the count column non-nullable, matching the
    * consumer's `count(1)`).  Output is POSITIONALLY aligned with
    * [[baseConsumer]]'s aggregate: (month, flag, revenue DOUBLE,
    * count LONG).
    */
  def rollupFromMv(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(StatsStore.artifactPath(spark, storeDir, "mv_daily_rev")
        .getOrElse(s"$storeDir/mv_daily_rev"))
      .groupBy(substring(col("day").cast("string"), 1, 7).as("mv_month"),
        col("flag"))
      .agg(sum(col("rev_partial")).cast("double").as("mv_rev"),
        coalesce(sum(col("n_partial")), lit(0L)).as("mv_n"))

  /** The one registration path both derived-consumer helpers share:
    * staleness check, template fingerprint (from the analyzed
    * consumer's Aggregate-over-marked-Project — grouping types,
    * aggregate function names, output types, AND the grouped/measured
    * expressions grounded to base columns), then the analyzed
    * compensation plan into the registry.  [[RewriteToMv]] refuses any
    * matched Aggregate whose semantics differ from the template, even
    * if the output shape happens to line up.
    */
  private def registerDerived(spark: SparkSession, sfDir: String,
      storeDir: String, marker: String, template: DataFrame,
      rollup: DataFrame): Unit = {
    requireFresh(spark, sfDir, storeDir)
    val agg = template.queryExecution.analyzed
      .collectFirst { case a: Aggregate => a }
      .getOrElse(throw new IllegalStateException(
        "consumer template has no Aggregate"))
    val p = agg.child match {
      case pr: Project => pr
      case other => throw new IllegalStateException(
        s"consumer template aggregate is not over a projection: $other")
    }
    MvRegistry.register(marker, rollup.queryExecution.analyzed,
      Some(MvAggSignature.of(agg, p)))
  }

  /** Register the compensation plan for `marker` (the consumer's
    * scan-side revenue column name).  The analyzed plan is captured
    * here; [[RewriteToMv]] splices it verbatim.
    */
  def registerRollup(spark: SparkSession, sfDir: String, storeDir: String,
      marker: String): Unit =
    registerDerived(spark, sfDir, storeDir, marker,
      baseConsumer(spark, sfDir, marker), rollupFromMv(spark, storeDir))

  /** Dimension-DROPPING compensation plan (q379): the flag-only total
    * re-derived over the MV — the month dimension is eliminated
    * entirely (sum over all daily partials per flag), the other
    * direction of derivability from the same artifact that
    * [[rollupFromMv]]'s coarsening exercises.
    */
  def flagRollupFromMv(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(StatsStore.artifactPath(spark, storeDir, "mv_daily_rev")
        .getOrElse(s"$storeDir/mv_daily_rev"))
      .groupBy(col("flag"))
      .agg(sum(col("rev_partial")).cast("double").as("mvf_rev"),
        coalesce(sum(col("n_partial")), lit(0L)).as("mvf_n"))

  /** Register the flag-only compensation plan for `marker`, with the
    * [[flagConsumer]] template's aggregate fingerprint — so the two
    * concurrently-registered consumers of the SAME artifact (monthly
    * rollup, flag total) can never answer each other's markers: the
    * shapes differ in arity and the signatures in grouping types.
    */
  def registerFlagRollup(spark: SparkSession, sfDir: String,
      storeDir: String, marker: String): Unit =
    registerDerived(spark, sfDir, storeDir, marker,
      flagConsumer(spark, sfDir, marker), flagRollupFromMv(spark, storeDir))

  /** The flag-only consumer AS WRITTEN BY A USER — total revenue and
    * line count per returnflag straight off the base table.
    */
  def flagConsumer(spark: SparkSession, sfDir: String,
      marker: String): DataFrame =
    graft.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as(marker))
      .groupBy("l_returnflag")
      .agg(sum(col(marker)).cast("double").as("rf_revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag")

  /** The consumer query AS WRITTEN BY A USER — monthly revenue per
    * returnflag straight off the base table.  The per-call-unique
    * `marker` names the scan-side revenue column; when a registration
    * exists the optimizer answers this from the MV, otherwise it runs
    * as written (the Batch29Spec control).
    */
  def baseConsumer(spark: SparkSession, sfDir: String,
      marker: String): DataFrame =
    graft.Tables.lineitem(spark, sfDir)
      .select(substring(col("l_shipdate").cast("string"), 1, 7).as("ship_month"),
        col("l_returnflag"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as(marker))
      .groupBy("ship_month", "l_returnflag")
      .agg(sum(col(marker)).cast("double").as("mv_revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("ship_month", "l_returnflag")
}
