package graft.functions

import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** SQL DML front door for the manifest-versioned table tier — the
  * writer half of "one engine, two surfaces": reads went SQL-first in
  * round 12 (six TVFs), and with this parser every MUTATION is
  * SQL-reachable too, sharing the [[graft.ops.SinkOps]] bodies
  * byte-for-byte so the DV economics, idempotent version allocation,
  * and loud contracts hold identically from both surfaces (the Delta
  * `MERGE INTO`/`DELETE FROM` production shape, path-addressed).
  *
  * Grammar (only statements naming `graft_table('<path>')` are
  * intercepted; everything else delegates to Spark's parser verbatim):
  *
  *  - `INSERT INTO graft_table('<path>') <query>`
  *     → [[graft.ops.SinkOps.commitVersion]] (carry-forward append)
  *  - `INSERT OVERWRITE graft_table('<path>') <query>`
  *     → commitVersion with `carryForward = false` (snapshot replace)
  *  - `DELETE FROM graft_table('<path>') WHERE <keyCol> IN (<query>)`
  *     → [[graft.ops.SinkOps.deleteVersionKeys]] (merge-on-read DV —
  *       zero data files rewritten)
  *  - `MERGE INTO graft_table('<path>') USING (<query>) ON <keyCol>
  *     [WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *]`
  *     → [[graft.ops.SinkOps.mergeVersion]] (one-commit DV upsert).
  *       The WHEN tail is optional but FIXED: upsert-all is exactly
  *       what the DV delete+reinsert encoding implements; any other
  *       matched/not-matched action refuses loudly rather than
  *       silently computing something else.
  *  - `UPDATE graft_table('<path>') SET c = expr[, ...]
  *     WHERE <keyCol> IN (<query>)`
  *     → [[GraftUpdateCommand]]: one snapshot scan semi-joined to the
  *       key list, SET evaluated against the old rows, merged as a
  *       single O(matched) DV commit.
  *  - `OPTIMIZE graft_table('<path>') ['' | ZORDER BY (c1, c2[, ...])
  *     | CLUSTER BY (c)]` → full compaction (plain / k-D Morton /
  *       range-clustered, fresh zone maps, DVs resolved and purged).
  *  - `VACUUM graft_table('<path>') KEEP <v> [RETAIN <n> HOURS]`
  *     → reference-counted history expiry with the retention grace;
  *       returns `n_deleted`.
  *
  * An optional SECOND graft_table argument `'c1,c2'` on
  * INSERT/MERGE/UPDATE declares ZONE-MAP STATS COLUMNS for the data
  * the write lands (the SQL spelling of `statsCols`) — with a
  * REPARTITION_BY_RANGE hint in the source query supplying the
  * clustering, a table is built, compacted, vacuumed, and skip-read
  * entirely in SQL. Non-writing verbs refuse the argument loudly.
  *
  * Each statement returns one row — `version INT`, the committed
  * version number (the Delta convention of DML returning its commit
  * metrics, reduced to the one datum every caller needs). Inner
  * queries are parsed by the DELEGATE parser and analyzed/executed by
  * the session at run time: full SQL (joins, CTEs, TVFs — including
  * `graft_version(...)`, so snapshot-to-snapshot DML composes).
  *
  * Scale: the parser itself is O(statement text); all data movement is
  * the shared SinkOps bodies' (merge/delete are O(batch) sidecar
  * writes, insert is one distributed parquet write).
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseDml(sqlText, delegate)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** Statement head: verb + graft_table('<path>') + tail. Statements
    * not matching (no graft_table target) return None and flow to the
    * delegate untouched.
    */
  private val Head =
    ("(?is)^\\s*(INSERT\\s+INTO|INSERT\\s+OVERWRITE|DELETE\\s+FROM|" +
      "MERGE\\s+INTO|UPDATE|OPTIMIZE|VACUUM|RESTORE|ALTER\\s+TABLE)" +
      "\\s+graft_table" +
      "\\s*\\(\\s*'([^']*)'\\s*(?:,\\s*'([^']*)'\\s*)?\\)\\s*(.*)$").r

  /** `CLONE graft_table('src') TO graft_table('dst') [VERSION AS OF
    * v]` — two table references, so it gets its own head shape.
    */
  private val CloneHead =
    ("(?is)^\\s*CLONE\\s+graft_table\\s*\\(\\s*'([^']*)'\\s*\\)\\s+TO" +
      "\\s+graft_table\\s*\\(\\s*'([^']*)'\\s*\\)\\s*(.*)$").r

  /** Same verbs against a CATALOG-NAMED table `cat.db.t` — the
    * [[graft.sources.GraftCatalog]] front: intercepted only when `cat`
    * is a registered graft catalog on the active session (guard in
    * parseDml), so statements naming other catalogs flow to the
    * delegate untouched. The name resolves through the catalog's
    * warehouse layout to the SAME path-addressed command bodies.
    */
  private val NamedHead =
    ("(?is)^\\s*(INSERT\\s+INTO|INSERT\\s+OVERWRITE|DELETE\\s+FROM|" +
      "MERGE\\s+INTO|UPDATE|OPTIMIZE|VACUUM|RESTORE|ALTER\\s+TABLE)" +
      "\\s+([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)" +
      "\\.([A-Za-z_][A-Za-z0-9_]*)\\s*(.*)$").r

  private val NamedCloneHead =
    ("(?is)^\\s*CLONE\\s+([A-Za-z_][A-Za-z0-9_]*)\\." +
      "([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)\\s+TO\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)\\." +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*(.*)$").r

  /** `CREATE TABLE cat.db.t AS <query>` on a graft catalog — CTAS by
    * name (Spark's own v2 CTAS needs a staging catalog + DSv2 write;
    * here it is simply a first commit at the resolved root, which the
    * catalog then discovers via its manifest).
    */
  private val NamedCtasHead =
    ("(?is)^\\s*CREATE\\s+TABLE\\s+([A-Za-z_][A-Za-z0-9_]*)\\." +
      "([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+" +
      "(.+)$").r

  /** Trailing `RETRY <n>` clause of MERGE/DELETE and (r15) the
    * maintenance verbs OPTIMIZE/ALTER TABLE/RESTORE — opt-in OCC
    * commit retry (`retries = n + 1` on the SinkOps verb), landing through up
    * to n version races (n retries = n+1 total attempts); without it
    * the verbs keep their bit-identical single-attempt shape.
    */
  private val RetryTail = "(?is)^(.*?)\\s*RETRY\\s+(\\d+)$".r

  /** Split a verb tail's trailing `RETRY <n>` off: (body, retries). */
  private def splitRetry(t: String): (String, Int) = t match {
    case RetryTail(body, n) => (body.trim, n.toInt)
    case _ => (t, 0)
  }

  private def isGraftCat(cat: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(s => graft.sources.GraftCatalog.isGraftCatalog(s, cat))

  private val VersionAsOfTail =
    "(?is)^VERSION\\s+AS\\s+OF\\s+(\\d+)$".r
  private val TimestampAsOfTail =
    "(?is)^TIMESTAMP\\s+AS\\s+OF\\s+(\\d+)$".r

  private val DeleteTail =
    "(?is)^WHERE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+IN\\s*(\\(.*)$".r

  private val PartitionedBy =
    "(?is)^PARTITIONED\\s+BY\\s*\\(([^)]*)\\)\\s*(.*)$".r

  private val CheckHead =
    "(?is)^CHECK\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(\\(.*)$".r

  /** Parse the CHECK clause's constraint list: `not_null(c)`,
    * `range(c, lo, hi)`, `in_set(c, 'a', 'b', …)`, `unique(c)`,
    * `expr(<boolean sql>)` (any row-local expression — the Delta
    * `ADD CONSTRAINT CHECK` shape, validated by the delegate parser
    * at STATEMENT-parse time so a typo fails at the prompt, not at
    * commit), and `fk(c, graft_table('<dim>'), dim_c)` (referential
    * integrity against another versioned table's head). Top-level-
    * comma split, loud on anything unrecognized.
    */
  private def parseConstraints(s: String, path: String,
                               delegate: ParserInterface)
      : Seq[graft.ops.QualityOps.Constraint] = {
    import graft.ops.QualityOps._
    val NotNullC = "(?is)^not_null\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$".r
    val RangeC = ("(?is)^range\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*," +
      "\\s*(-?[0-9.eE+]+)\\s*,\\s*(-?[0-9.eE+]+)\\s*\\)$").r
    val InSetC = "(?is)^in_set\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*,(.*)\\)$".r
    val UniqueC = "(?is)^unique\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$".r
    val ExprC = "(?is)^expr\\s*\\((.*)\\)$".r
    val FkC = ("(?is)^fk\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*,\\s*" +
      "graft_table\\s*\\(\\s*'([^']*)'\\s*\\)\\s*,\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$").r
    val FkNamedC = ("(?is)^fk\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*," +
      "\\s*([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)\\." +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*,\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$").r
    val QuotedLit = "^'([^']*)'$".r
    val cs = splitTopLevel(s).map {
      case NotNullC(c) => NotNull(c)
      case RangeC(c, lo, hi) => InRange(c, lo.toDouble, hi.toDouble)
      case InSetC(c, vals) =>
        val vs = splitTopLevel(vals).map {
          case QuotedLit(v) => v
          case other => throw new IllegalArgumentException(
            s"in_set values must be quoted string literals in CHECK " +
              s"on graft_table('$path'); got: $other")
        }
        InSet(c, vs)
      case UniqueC(c) => Unique(c)
      case FkC(c, dimPath, dimCol) => ForeignKeyRef(c, dimPath, dimCol)
      case FkNamedC(c, cat, db, tbl, dimCol) if isGraftCat(cat) =>
        // Catalog-named dimension: resolve the name to its root here
        // (loud on a typo'd name, never a silently-empty dimension
        // that fails every FK).
        ForeignKeyRef(c, graft.sources.GraftCatalog.tableRoot(
          org.apache.spark.sql.SparkSession.active, cat, db, tbl),
          dimCol)
      case ExprC(sql) =>
        val t = sql.trim
        require(t.nonEmpty,
          s"empty expr() CHECK constraint on graft_table('$path')")
        delegate.parseExpression(t) // loud at parse time on bad syntax
        CheckExpr(t)
      case other => throw new IllegalArgumentException(
        s"unrecognized CHECK constraint on graft_table('$path'): " +
          s"$other (supported: not_null(c), range(c, lo, hi), " +
          "in_set(c, 'a', …), unique(c), expr(<boolean sql>), " +
          "fk(c, graft_table('<dim>'), dim_c))")
    }
    require(cs.nonEmpty,
      s"empty CHECK constraint list on graft_table('$path')")
    cs
  }

  private val RenameColTail =
    ("(?is)^RENAME\\s+COLUMN\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+TO\\s+" +
      "([A-Za-z_][A-Za-z0-9_]*)$").r

  private val DropColTail =
    "(?is)^DROP\\s+COLUMN\\s+([A-Za-z_][A-Za-z0-9_]*)$".r

  private val WidenColTail =
    ("(?is)^ALTER\\s+COLUMN\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+TYPE\\s+" +
      "([A-Za-z0-9_]+(?:\\s*\\([0-9,\\s]*\\))?)$").r

  private val MergeOn =
    "(?is)^ON\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(.*)$".r

  /** `<keyCol> IN (<query...>` — the shared key-list clause of DELETE
    * and UPDATE.
    */
  private val KeyIn =
    "(?is)^([A-Za-z_][A-Za-z0-9_]*)\\s+IN\\s*(\\(.*)$".r

  /** Index of the first TOP-LEVEL (paren-depth 0, outside string
    * literals, word-bounded) occurrence of `kw`, -1 when absent — how
    * UPDATE finds its WHERE without being fooled by a WHERE inside a
    * quoted literal or a parenthesized subexpression.
    */
  private def topLevelKeyword(s: String, kw: String): Int = {
    var depth = 0
    var inQuote = false
    var i = 0
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 &&
              s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + kw.length >= s.length ||
                !wordChar(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }

  /** Split on TOP-LEVEL commas (quote- and paren-aware) — the SET
    * assignment-list separator (`a = f(x, y), b = 2` is two
    * assignments, not three).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inQuote = false
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The one WHEN tail the DV merge implements (upsert-all). */
  private val CanonicalWhen =
    ("(?is)^WHEN\\s+MATCHED\\s+THEN\\s+UPDATE\\s+SET\\s+\\*\\s+" +
      "WHEN\\s+NOT\\s+MATCHED\\s+THEN\\s+INSERT\\s+\\*$").r

  private val ZOrderBy =
    "(?is)^ZORDER\\s+BY\\s*\\(([^()]*)\\)$".r
  private val ClusterBy =
    "(?is)^CLUSTER\\s+BY\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$".r
  private val VacuumTail =
    ("(?is)^KEEP\\s+(\\d+)(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?" +
      "(\\s+DRY\\s+RUN)?$").r

  private def parseDml(sqlText: String,
                       delegate: ParserInterface): Option[LogicalPlan] = {
    val text = sqlText.trim.stripSuffix(";").trim
    text match {
      case CloneHead(src, dst, tail) =>
        Some(tail.trim match {
          case "" => GraftCloneCommand(src, dst, None)
          case VersionAsOfTail(v) =>
            GraftCloneCommand(src, dst, Some(v.toInt))
          case other => throw new IllegalArgumentException(
            s"CLONE graft_table('$src') TO graft_table('$dst') " +
              s"supports exactly '' | VERSION AS OF <v>; got: $other")
        })
      case Head(verb, path, statsCsvOrNull, tail) =>
        // Optional second graft_table argument: the STATS COLUMNS the
        // write declares (zone-map sidecars) — the SQL spelling of
        // the CommitSpec `stats` of commitVersion/mergeVersion, so a
        // table built and maintained entirely through SQL stays
        // skip-readable. Only writing verbs accept it.
        val statsCols = Option(statsCsvOrNull)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        Some(dmlPlan(normVerb(verb), path, statsCols, tail, delegate))
      case NamedHead(verb, cat, db, tbl, tail) if isGraftCat(cat) =>
        val spark = org.apache.spark.sql.SparkSession.active
        Some(dmlPlan(normVerb(verb),
          graft.sources.GraftCatalog.tableRoot(spark, cat, db, tbl),
          Nil, tail, delegate))
      case NamedCtasHead(cat, db, tbl, query) if isGraftCat(cat) =>
        val spark = org.apache.spark.sql.SparkSession.active
        require(!graft.sources.GraftCatalog.tableExistsAt(spark, cat,
            db, tbl),
          s"CREATE TABLE $cat.$db.$tbl AS ...: table already exists " +
            "— INSERT INTO/OVERWRITE it, or DROP it first")
        Some(GraftCtasCommand(
          graft.sources.GraftCatalog.tableRoot(spark, cat, db, tbl,
            mustExist = false),
          delegate.parseQuery(query.trim)))
      case NamedCloneHead(cat, db1, t1, cat2, db2, t2, tail)
          if isGraftCat(cat) && isGraftCat(cat2) =>
        val spark = org.apache.spark.sql.SparkSession.active
        val src = graft.sources.GraftCatalog.tableRoot(spark, cat,
          db1, t1)
        val dst = graft.sources.GraftCatalog.tableRoot(spark, cat2,
          db2, t2, mustExist = false)
        Some(tail.trim match {
          case "" => GraftCloneCommand(src, dst, None)
          case VersionAsOfTail(v) =>
            GraftCloneCommand(src, dst, Some(v.toInt))
          case other => throw new IllegalArgumentException(
            s"CLONE $cat.$db1.$t1 TO $cat2.$db2.$t2 supports exactly " +
              s"'' | VERSION AS OF <v>; got: $other")
        })
      case _ => None
    }
  }

  private def normVerb(verb: String): String =
    verb.toUpperCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")

  /** One DML statement body, shared by the path-addressed
    * (`graft_table('<path>')`) and catalog-named (`graft.db.t`)
    * targets — the two spellings build the SAME commands over the
    * SAME resolved root, so name ≡ path holds by construction.
    */
  private def dmlPlan(v: String, path: String, statsCols: Seq[String],
                      tail: String,
                      delegate: ParserInterface): LogicalPlan = {
    require(statsCols.isEmpty ||
        Set("INSERT INTO", "INSERT OVERWRITE", "MERGE INTO",
          "UPDATE")(v),
      s"$v does not accept a stats-columns argument " +
        "(graft_table(path, 'c1,c2') declares zone-map sidecars " +
        "for the data a write lands; this statement lands none)")
    (v match {
          case "INSERT INTO" | "INSERT OVERWRITE" =>
            require(tail.trim.nonEmpty,
              s"INSERT into graft_table('$path') needs a source query")
            // Optional PARTITIONED BY (c1[, c2...]) prefix: the SQL
            // spelling of a `Partitioned` CommitSpec layout — a table built
            // and read entirely through SQL keeps its coarsest skip
            // tier. Mutually exclusive with declared stats columns
            // (partitioned dirs are not zone-map servable).
            val (partCols, query) = tail.trim match {
              case PartitionedBy(cols, rest) =>
                (cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
                  rest.trim)
              case other => (Nil, other)
            }
            if (partCols.nonEmpty) {
              // Stats columns COMPOSE with PARTITIONED BY (r16): the
              // commit writes both the parts sidecar and leaf-relative
              // per-file zone maps — the standard 100 TB layout
              // (partition prune, then file skip inside kept leaves).
              require(query.nonEmpty,
                s"INSERT into graft_table('$path') needs a source query")
              GraftInsertPartitionedCommand(path,
                delegate.parseQuery(query),
                carryForward = v == "INSERT INTO", partCols, statsCols)
            } else query match {
              // Optional CHECK <keyCol> (constraints) prefix: the SQL
              // spelling of CommitSpec `constraints` — a violating batch
              // refuses before any file lands, entirely from SQL.
              case CheckHead(keyCol, parenOn) =>
                val (inner, rest) = balanced(parenOn.trim, path)
                require(rest.trim.nonEmpty,
                  s"INSERT into graft_table('$path') needs a source " +
                    "query after the CHECK clause")
                GraftInsertCheckedCommand(path,
                  delegate.parseQuery(rest.trim),
                  carryForward = v == "INSERT INTO", keyCol,
                  parseConstraints(inner, path, delegate), statsCols)
              case _ =>
                GraftInsertCommand(path, delegate.parseQuery(query),
                  carryForward = v == "INSERT INTO", statsCols)
            }
          case "OPTIMIZE" =>
            val (t, retries) = splitRetry(tail.trim)
            t match {
              case "" => GraftOptimizeCommand(path, Nil, None, retries)
              case ZOrderBy(cols) =>
                val zc = cols.split(",").map(_.trim).filter(_.nonEmpty)
                require(zc.length >= 2,
                  s"OPTIMIZE ... ZORDER BY needs >= 2 columns: $cols")
                GraftOptimizeCommand(path, zc.toSeq, None, retries)
              case ClusterBy(c) =>
                GraftOptimizeCommand(path, Nil, Some(c), retries)
              case other => throw new IllegalArgumentException(
                s"OPTIMIZE graft_table('$path') supports exactly '' | " +
                  s"ZORDER BY (c1, c2[, ...]) | CLUSTER BY (c) " +
                  s"[RETRY n]; got: $other")
            }
          case "ALTER TABLE" =>
            val (t, retries) = splitRetry(tail.trim)
            t match {
              case RenameColTail(o, n) =>
                GraftRenameColumnCommand(path, o, n, retries)
              case DropColTail(c) =>
                GraftDropColumnCommand(path, c, retries)
              case WidenColTail(c, ty) =>
                GraftWidenColumnCommand(path, c, ty.trim, retries)
              case other => throw new IllegalArgumentException(
                s"ALTER TABLE graft_table('$path') supports exactly " +
                  "RENAME COLUMN <old> TO <new> | DROP COLUMN <col> " +
                  "| ALTER COLUMN <col> TYPE <type>, each [RETRY n]; " +
                  s"got: $other")
            }
          case "RESTORE" =>
            val (t, retries) = splitRetry(tail.trim)
            t match {
              case VersionAsOfTail(rv) =>
                GraftRestoreCommand(path, Some(rv.toInt), None, retries)
              case TimestampAsOfTail(ts) =>
                GraftRestoreCommand(path, None, Some(ts.toLong), retries)
              case other => throw new IllegalArgumentException(
                s"RESTORE graft_table('$path') supports exactly " +
                  "VERSION AS OF <v> | TIMESTAMP AS OF <millis> " +
                  s"[RETRY n]; got: $other")
            }
          case "VACUUM" =>
            tail.trim match {
              case VacuumTail(keep, hoursOrNull, dry) =>
                if (dry != null)
                  GraftVacuumDryRunCommand(path, keep.toInt,
                    Option(hoursOrNull).map(_.toLong * 3600000L)
                      .getOrElse(0L))
                else GraftVacuumCommand(path, keep.toInt,
                  Option(hoursOrNull).map(_.toLong * 3600000L)
                    .getOrElse(0L))
              case other => throw new IllegalArgumentException(
                s"VACUUM graft_table('$path') supports exactly " +
                  "KEEP <version> [RETAIN <n> HOURS] [DRY RUN]; " +
                  s"got: $other")
            }
          case "DELETE FROM" =>
            tail.trim match {
              case DeleteTail(keyCol, parenOn) =>
                val (inner, rest) = balanced(parenOn.trim, path)
                val retries = rest.trim match {
                  case "" => 0
                  case RetryTail("", n) => n.toInt
                  case other => throw new IllegalArgumentException(
                    s"unexpected trailing text after DELETE FROM " +
                      s"graft_table('$path') ... IN (...): '$other' " +
                      "(supported: RETRY <n>)")
                }
                GraftDeleteCommand(path, keyCol,
                  delegate.parseQuery(inner.trim), retries)
              case other => throw new IllegalArgumentException(
                "DELETE FROM graft_table('" + path + "') supports " +
                  "exactly `WHERE <keyCol> IN (<query>)` (the " +
                  "merge-on-read key-delete shape); got: " + other)
            }
          case "UPDATE" =>
            val t = tail.trim
            require(t.length > 3 &&
                t.substring(0, 3).equalsIgnoreCase("SET"),
              s"UPDATE graft_table('$path') expects SET <col> = " +
                s"<expr>[, ...] WHERE <keyCol> IN (<query>); got: $t")
            val afterSet = t.drop(3).trim
            val wherePos = topLevelKeyword(afterSet, "WHERE")
            require(wherePos > 0,
              s"UPDATE graft_table('$path') needs a WHERE <keyCol> " +
                "IN (<query>) clause (full-table UPDATE is a rewrite " +
                "— use INSERT OVERWRITE)")
            val assigns = splitTopLevel(
                afterSet.substring(0, wherePos).trim).map { a =>
              val eq = a.indexOf('=')
              require(eq > 0, s"malformed SET assignment: $a")
              val name = a.substring(0, eq).trim
              require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
                s"SET target must be a plain column name: $name")
              (name, delegate.parseExpression(a.substring(eq + 1).trim))
            }
            require(assigns.nonEmpty,
              s"UPDATE graft_table('$path') has an empty SET list")
            // Duplicate targets would silently last-write-win through
            // the column map; standard SQL refuses them.
            require(assigns.map(_._1).distinct.size == assigns.size,
              "duplicate SET targets: " + assigns.map(_._1)
                .diff(assigns.map(_._1).distinct).distinct.mkString(", "))
            afterSet.substring(wherePos + "WHERE".length).trim match {
              case KeyIn(keyCol, parenOn) =>
                val (inner, rest) = balanced(parenOn.trim, path)
                require(rest.trim.isEmpty,
                  "unexpected trailing text after UPDATE ... IN " +
                    s"(...): '${rest.trim}'")
                GraftUpdateCommand(path, keyCol,
                  delegate.parseQuery(inner.trim), assigns, statsCols)
              case other => throw new IllegalArgumentException(
                s"UPDATE graft_table('$path') supports exactly " +
                  s"`WHERE <keyCol> IN (<query>)`; got: $other")
            }
          case "MERGE INTO" =>
            val t = tail.trim
            require(t.toUpperCase(java.util.Locale.ROOT)
                .startsWith("USING"),
              s"MERGE INTO graft_table('$path') expects USING " +
                s"(<query>) ON <keyCol>; got: $t")
            val afterUsing = t.drop("USING".length).trim
            val (inner, rest) = balanced(afterUsing, path)
            rest.trim match {
              case MergeOn(keyCol, whenTail) =>
                val (when, retries) = whenTail.trim match {
                  case RetryTail(w, n) => (w.trim, n.toInt)
                  case w => (w, 0)
                }
                require(when.isEmpty || CanonicalWhen.matches(when),
                  "MERGE INTO graft_table implements exactly upsert-" +
                    "all (WHEN MATCHED THEN UPDATE SET * WHEN NOT " +
                    "MATCHED THEN INSERT *) — any other WHEN action " +
                    "refuses rather than silently computing " +
                    "something else; got: " + when)
                GraftMergeCommand(path, keyCol,
                  delegate.parseQuery(inner.trim), statsCols, retries)
              case other => throw new IllegalArgumentException(
                s"MERGE INTO graft_table('$path') USING (...) " +
                  s"expects `ON <keyCol>`; got: $other")
            }
        case other => throw new IllegalArgumentException(
          s"unsupported graft DML verb: $other")
    }): LogicalPlan
  }

  /** Scan a balanced-parenthesis group starting at `(`; returns
    * (inner text, remainder after the matching `)`). Quote-aware so
    * parens inside string literals never miscount.
    */
  private def balanced(s: String, path: String): (String, String) = {
    require(s.startsWith("("),
      s"expected a parenthesized query in DML on graft_table" +
        s"('$path'); got: $s")
    var depth = 0
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (s.substring(1, i), s.substring(i + 1))
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"unbalanced parentheses in DML on graft_table('$path'): $s")
  }

  private[functions] def versionOutput: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
}

/** `INSERT INTO/OVERWRITE graft_table(path[, 'c1,c2']) <query>` →
  * [[graft.ops.SinkOps.commitVersion]] with the declared `stats`. The
  * source plan is
  * analyzed and executed at run time by the session (full SQL
  * available — incl. REPARTITION_BY_RANGE hints, the SQL spelling of
  * the clustering that makes declared zone maps tight).
  */
case class GraftInsertCommand(path: String, source: LogicalPlan,
                              carryForward: Boolean,
                              statsCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.commitVersion(
      GraftSqlBridge.ofRows(spark, source), path,
      graft.ops.SinkOps.CommitSpec(stats = statsCols,
        carryForward = carryForward))))
}

/** `INSERT INTO/OVERWRITE graft_table(path) PARTITIONED BY (c1[, c2…])
  * <query>` → [[graft.ops.SinkOps.commitVersion]] with a `Partitioned`
  * layout —
  * the SQL writer half of the partition tier: the commit lands hive
  * subtrees plus the counted parts sidecar, so partition-pruned reads
  * (`graft_version_part`) and metadata counts (`graft_part_counts`)
  * arm from a pure-SQL pipeline.
  */
case class GraftInsertPartitionedCommand(path: String,
                                         source: LogicalPlan,
                                         carryForward: Boolean,
                                         partCols: Seq[String],
                                         statsCols: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.commitVersion(
      GraftSqlBridge.ofRows(spark, source), path,
      graft.ops.SinkOps.CommitSpec(
        layout = graft.ops.SinkOps.Partitioned(partCols), stats = statsCols,
        carryForward = carryForward))))
}

/** `INSERT INTO/OVERWRITE graft_table(path[, 'c1,c2']) CHECK <keyCol>
  * (not_null(c), range(c, lo, hi), in_set(c, 'a', …), unique(c),
  * expr(<boolean sql>), fk(c, graft_table('<dim>'), dim_c))
  * <query>` → [[graft.ops.SinkOps.commitVersion]] with `constraints` — the
  * constraint gate entirely from SQL: the batch stages once, a
  * violating staging refuses with the bounded report and leaves the
  * head untouched, and a clean one publishes (with zone-map sidecars
  * when stats columns are declared — the second graft_table argument
  * threads through, same as the unchecked INSERT).
  */
case class GraftInsertCheckedCommand(path: String, source: LogicalPlan,
                                     carryForward: Boolean,
                                     keyCol: String,
                                     checks: Seq[graft.ops.QualityOps.Constraint],
                                     statsCols: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.commitVersion(
      GraftSqlBridge.ofRows(spark, source), path,
      graft.ops.SinkOps.CommitSpec(stats = statsCols,
        carryForward = carryForward,
        constraints = Some(graft.ops.SinkOps.Constraints(keyCol, checks))))))
}

/** `OPTIMIZE graft_table(path) ['' | ZORDER BY (...) | CLUSTER BY
  * (c)] [RETRY n]` → [[graft.ops.SinkOps.compactVersions]] with a
  * `Full` or `ZOrder` compaction — the maintenance half of the SQL
  * surface (Delta's OPTIMIZE shape): DVs resolved and purged, planning
  * back to O(1) dirs, fresh zone maps under the declared layout. RETRY
  * n re-packs through up to n version races on every layout;
  * `beforeAttempt` is the commit test seam.
  */
case class GraftOptimizeCommand(path: String, zorderCols: Seq[String],
                                clusterCol: Option[String],
                                retries: Int = 0,
                                beforeAttempt: Int => Unit = _ => ())
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.compactVersions(spark, path,
      if (zorderCols.nonEmpty) graft.ops.SinkOps.Compaction.ZOrder(zorderCols)
      else graft.ops.SinkOps.Compaction.Full(clusterCol),
      retries = retries + 1, beforeAttempt = beforeAttempt)))
}

/** `RESTORE graft_table(path) VERSION AS OF v | TIMESTAMP AS OF ms`
  * → [[graft.ops.SinkOps.restoreVersion]], with a timestamp resolved
  * through [[graft.ops.SinkOps.versionAsOf]] — the head rolls back as a
  * NEW commit (zero data IO, history and changefeed intact). Returns
  * the restore commit's version.
  */
case class GraftRestoreCommand(path: String, version: Option[Int],
                               tsMillis: Option[Long],
                               retries: Int = 0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(version match {
      case Some(v) => graft.ops.SinkOps.restoreVersion(spark, path, v,
        maxTries = retries + 1)
      case None => graft.ops.SinkOps.restoreVersion(spark, path,
        graft.ops.SinkOps.versionAsOf(spark, path, tsMillis.get),
        maxTries = retries + 1)
    }))
}

/** `ALTER TABLE graft_table(path) RENAME COLUMN old TO new` →
  * [[graft.ops.SinkOps.renameVersionColumn]] — one metadata manifest
  * line, zero data IO (the Delta column-mapping shape). Returns the
  * rename commit's version.
  */
case class GraftRenameColumnCommand(path: String, oldName: String,
                                    newName: String, retries: Int = 0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.renameVersionColumn(spark, path,
      oldName, newName, maxTries = retries + 1)))
}

/** `ALTER TABLE graft_table(path) DROP COLUMN col` →
  * [[graft.ops.SinkOps.dropVersionColumn]] — one metadata manifest
  * line, zero data IO; bytes reclaimed at OPTIMIZE. Returns the drop
  * commit's version.
  */
case class GraftDropColumnCommand(path: String, colName: String,
                                  retries: Int = 0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.dropVersionColumn(spark, path, colName,
      maxTries = retries + 1)))
}

/** `ALTER TABLE graft_table(path) ALTER COLUMN col TYPE <type>` →
  * [[graft.ops.SinkOps.widenVersionColumn]] — one metadata manifest
  * line, zero data IO; legacy dirs cast exactly in the resolve fold
  * (only exact promotions are sanctioned). Returns the widen commit's
  * version.
  */
case class GraftWidenColumnCommand(path: String, colName: String,
                                   newType: String, retries: Int = 0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.widenVersionColumn(spark, path, colName,
      newType, maxTries = retries + 1)))
}

/** `CLONE graft_table(src) TO graft_table(dst) [VERSION AS OF v]` →
  * [[graft.ops.SinkOps.cloneVersion]] — zero-copy snapshot fork by
  * absolute-path manifest references. Returns the clone's version (1).
  */
case class GraftCloneCommand(src: String, dst: String,
                             version: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.cloneVersion(spark, src, dst, version)))
}

/** `CREATE TABLE cat.db.t AS <query>` (graft catalogs only) — CTAS by
  * name: one [[graft.ops.SinkOps.commitVersion]] at the resolved
  * warehouse root; the catalog discovers the result via its manifest.
  * Existence was refused at parse; the version-0 recheck here closes
  * the parse-to-run race.
  */
case class GraftCtasCommand(path: String, source: LogicalPlan)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    require(graft.ops.SinkOps.currentVersion(spark, path) == 0,
      s"CTAS target $path gained commits between parse and run — " +
        "a concurrent writer created it; INSERT INTO it instead")
    Seq(Row(graft.ops.SinkOps.commitVersion(
      GraftSqlBridge.ofRows(spark, source), path)))
  }
}

/** `VACUUM graft_table(path) KEEP <v> [RETAIN <n> HOURS]` →
  * [[graft.ops.SinkOps.expireVersions]] with the retention grace —
  * returns `n_deleted`, the reference-counted data dirs reclaimed.
  */
case class GraftVacuumCommand(path: String, keep: Int,
                              retainMillis: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("n_deleted", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.ops.SinkOps.expireVersions(spark, path, keep,
      retainMillis)))
}

/** `VACUUM graft_table(path) KEEP <v> [RETAIN <n> HOURS] DRY RUN` →
  * [[graft.ops.SinkOps.vacuumDryRun]] — one row per dir the real
  * sweep would reclaim, nothing touched (the operator pre-flight for
  * an irreversible 100 TB maintenance sweep, Delta's shape).
  */
case class GraftVacuumDryRunCommand(path: String, keep: Int,
                                    retainMillis: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference(
    "would_delete", org.apache.spark.sql.types.StringType,
    nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.ops.SinkOps.vacuumDryRun(spark, path, keep, retainMillis)
      .map(Row(_))
}

/** `DELETE FROM graft_table(path) WHERE k IN (<query>) [RETRY n]` →
  * [[graft.ops.SinkOps.deleteVersionKeys]] — merge-on-read sidecar,
  * zero data files rewritten. RETRY n (`retries = n + 1`) lands the
  * delete through up to n version races (opt-in: the clause changes
  * the sidecar dir naming from `deletes/v<N>` to commit-unique, so the
  * default keeps the bit-identical single-attempt shape).
  */
case class GraftDeleteCommand(path: String, keyCol: String,
                              keys: LogicalPlan, retries: Int = 0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(keys)
  override def run(spark: SparkSession): Seq[Row] =
    // RETRY n lands through up to n version RACES: n + 1 attempts.
    Seq(Row(graft.ops.SinkOps.deleteVersionKeys(
      GraftSqlBridge.ofRows(spark, keys), path, keyCol,
      retries = retries + 1)))
}

/** `MERGE INTO graft_table(path) USING (<query>) ON k [WHEN ...]
  * [RETRY n]` → [[graft.ops.SinkOps.mergeVersion]] — the one-commit
  * DV upsert (delete sidecar + data dir), O(batch) write cost. RETRY
  * n (`retries = n + 1`) lands the merge through up to n version races
  * — the shape a merge stream racing a nightly OPTIMIZE wants (opt-in,
  * same naming note as DELETE).
  */
case class GraftMergeCommand(path: String, keyCol: String,
                             source: LogicalPlan,
                             statsCols: Seq[String] = Nil,
                             retries: Int = 0)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] =
    // Same RETRY-n-races contract as DELETE: n + 1 attempts.
    Seq(Row(graft.ops.SinkOps.mergeVersion(
      GraftSqlBridge.ofRows(spark, source), path, keyCol,
      graft.ops.SinkOps.CommitSpec(stats = statsCols,
        retries = retries + 1))))
}

/** `UPDATE graft_table(path) SET c = expr[, ...] WHERE k IN (<query>)`
  * → one DV MERGE of the matched rows with the SET expressions
  * applied: the head is scanned ONCE filtered by a broadcast semi-join
  * on the arrival-sized key list, every SET expression evaluates
  * against the OLD row (one projection — standard UPDATE semantics,
  * not sequential rebinding), and the result merges as a single
  * O(matched) commit (sidecar + data dir, zero file rewrites — the
  * merge-on-read UPDATE, vs Delta's copy-on-write file rewrite).
  * Assigning the key column refuses loudly (that is a delete+insert,
  * not an update); assigning an absent column refuses loudly (schema
  * evolution goes through commits, not a typo in SET).
  */
case class GraftUpdateCommand(path: String, keyCol: String,
                              keys: LogicalPlan,
                              assigns: Seq[(String, Expression)],
                              statsCols: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(keys)
  override def run(spark: SparkSession): Seq[Row] = {
    val snap = graft.ops.SinkOps.readVersion(spark, path)
    assigns.foreach { case (n, _) =>
      require(n != keyCol,
        s"UPDATE must not assign the merge key '$keyCol' — changing " +
          "a key is a DELETE plus INSERT, not an update")
      require(snap.columns.contains(n),
        s"UPDATE assigns unknown column '$n' (table has: " +
          s"${snap.columns.mkString(", ")})")
    }
    val keyDf = GraftSqlBridge.ofRows(spark, keys)
      .select(keyCol).distinct()
    val matched = snap.join(
      org.apache.spark.sql.functions.broadcast(keyDf),
      Seq(keyCol), "left_semi")
    val updated = matched.withColumns(
      assigns.map { case (n, e) => n -> GraftSqlBridge.column(e) }.toMap)
    Seq(Row(graft.ops.SinkOps.mergeVersion(updated, path, keyCol,
      graft.ops.SinkOps.CommitSpec(stats = statsCols))))
  }
}
