package graft.plans

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Synthetic-partition predicate injection — custom Catalyst rule.
  *
  * Offloaded tables are physically partitioned by a SYNTHETIC key derived
  * from a source column (`goe_part_m_o_orderdate` = month string of
  * `o_orderdate`, `goe_part_50000_o_totalprice` = 50000-wide bucket, …).
  * Users filter on the SOURCE column; the partition column alone prunes.
  * This rule derives the implied partition-column predicate and ANDs it into
  * the filter, so Spark's native partition pruning can skip files/partitions
  * — the re-expression of the reference's predicate-injection pass
  * (`src/goe/offload/predicate_offload.py:590-663`,
  * `synthetic_partition_literal.py:61-249`) as a `Rule[LogicalPlan]`.
  *
  * At 100 TB this IS the difference between a full scan and reading one
  * month: a filter on the source column alone gives Spark no prunable
  * predicate, because the engine cannot know the functional dependency
  * between the raw column and the derived partition key — this rule encodes
  * exactly that dependency (by the `goe_part_*` naming contract).
  *
  * The derived conjunct is always NON-STRICT (`part <= key(v)` for
  * `c < v` etc.) — it widens to whole partitions, never excludes a row the
  * original predicate keeps; the original predicate still filters exactly.
  * Injection is idempotent (semantic-equality guard) so the rule is safe at
  * fixpoint in resolution or optimisation batches.
  *
  * ==Timezone contract==
  * For instant-typed (`TimestampType`) source columns, the physical
  * `goe_part_*` date keys were rendered with the WRITE-time session
  * timezone (`date_format` in [[graft.plan.SyntheticPartition]]); this rule
  * derives the injected key literal with the READ-time session timezone.
  * The two MUST match: reading a table under a different
  * `spark.sql.session.timeZone` than it was written with would inject an
  * equality conjunct that excludes rows whose wall-clock date differs
  * between the two zones — wrong results, not merely a missed prune.
  * The offload path persists the writer TZ in
  * [[graft.meta.OffloadMetadata.writerTimeZone]]; [[TimeZoneGuard.check]]
  * enforces the match at read time and [[TimeZoneGuard.pinned]] runs a read
  * under the writer's zone. `TimestampNTZType` and `DateType` keys are
  * wall-clock and immune.
  */
object SyntheticPartitionPruning extends Rule[LogicalPlan] with PredicateHelper {

  private val SynthName = "goe_part_([a-z0-9]+)_(.+)".r

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) if cond.resolved =>
      val synths: Seq[(Attribute, String, Attribute)] = child.output.flatMap {
        a =>
          a.name.toLowerCase match {
            case SynthName(gran, src) =>
              child.output.find(_.name.equalsIgnoreCase(src)).map(s => (a, gran, s))
            case _ => None
          }
      }
      if (synths.isEmpty) f
      else {
        val conjuncts = splitConjunctivePredicates(cond)
        val derived = conjuncts.flatMap(c => synths.flatMap {
          case (partAttr, gran, srcAttr) => deriveOne(c, srcAttr, gran, partAttr)
        })
        val fresh = derived.filterNot(d =>
          conjuncts.exists(_.semanticEquals(d)))
        if (fresh.isEmpty) f
        else Filter((conjuncts ++ fresh).reduce(And), child)
      }
  }

  /** Derive a partition predicate from one conjunct, if it is a comparison
    * between the partition's source column and a foldable literal. */
  private def deriveOne(conjunct: Expression, srcAttr: Attribute,
                        gran: String, partAttr: Attribute)
      : Option[Expression] = {
    def normalized: Option[(String, Literal)] = conjunct match {
      case EqualTo(a: Attribute, l: Literal) if a.semanticEquals(srcAttr) => Some(("=", l))
      case EqualTo(l: Literal, a: Attribute) if a.semanticEquals(srcAttr) => Some(("=", l))
      case LessThan(a: Attribute, l: Literal) if a.semanticEquals(srcAttr) => Some(("<", l))
      case GreaterThan(l: Literal, a: Attribute) if a.semanticEquals(srcAttr) => Some(("<", l))
      case LessThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(srcAttr) => Some(("<", l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(srcAttr) => Some(("<", l))
      case GreaterThan(a: Attribute, l: Literal) if a.semanticEquals(srcAttr) => Some((">", l))
      case LessThan(l: Literal, a: Attribute) if a.semanticEquals(srcAttr) => Some((">", l))
      case GreaterThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(srcAttr) => Some((">", l))
      case LessThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(srcAttr) => Some((">", l))
      case _ => None
    }
    normalized.flatMap { case (op, l) =>
      partitionLiteral(srcAttr.dataType, partAttr.dataType, gran, l).map {
        pl =>
          op match {
            case "=" => EqualTo(partAttr, pl)
            case "<" => LessThanOrEqual(partAttr, pl)
            case ">" => GreaterThanOrEqual(partAttr, pl)
          }
      }
    }
  }

  /** Client-side mirror of the synthetic partition expressions: map a source
    * literal to the partition-key literal. Granularity is interpreted by the
    * SOURCE type, same contract as [[graft.plan.SyntheticPartition]]:
    * date/timestamp → Y/M/D date string; numeric → range bucket; string →
    * prefix. */
  private def partitionLiteral(srcType: DataType, partType: DataType,
                               gran: String, l: Literal): Option[Literal] = {
    if (l.value == null) return None
    (srcType, gran) match {
      case (TimestampType | TimestampNTZType, "y" | "m" | "d") =>
        val micros = l.value.asInstanceOf[Long]
        // TimestampType micros are a UTC instant, but the physical
        // goe_part_* keys were rendered via date_format = SESSION timezone;
        // converting with hard-coded UTC would mis-prune rows near y/m/d
        // boundaries in non-UTC sessions. TimestampNTZ micros are already
        // wall-clock, so UTC is the identity mapping there.
        val zone: java.time.ZoneId =
          if (srcType == TimestampType)
            java.time.ZoneId.of(org.apache.spark.sql.internal.SQLConf.get
              .sessionLocalTimeZone)
          else ZoneOffset.UTC
        val d = java.time.Instant
          .ofEpochSecond(Math.floorDiv(micros, 1000000L))
          .atZone(zone).toLocalDate
        dateKeyLiteral(d, gran, partType)
      case (DateType, "y" | "m" | "d") =>
        dateKeyLiteral(LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong),
          gran, partType)
      case (_: NumericType, g) if g.forall(_.isDigit) && g.nonEmpty &&
          (partType == LongType || partType == IntegerType) =>
        // partType can come back as IntegerType: partition columns are
        // re-inferred from directory names on read
        val width = g.toLong
        if (width <= 0) None
        else {
          val v: Double = l.value match {
            case d: Double => d
            case f: Float => f.toDouble
            case i: Int => i.toDouble
            case j: Long => j.toDouble
            case d: Decimal => d.toDouble
            case s: Short => s.toDouble
            case b: Byte => b.toDouble
            case _ => return None
          }
          val bucket = math.floor(v / width).toLong * width
          partType match {
            case LongType => Some(Literal(bucket, LongType))
            case IntegerType if bucket.isValidInt =>
              Some(Literal(bucket.toInt, IntegerType))
            case _ => None
          }
        }
      case (StringType, g) if g.forall(_.isDigit) && g.nonEmpty &&
          partType == StringType =>
        val n = g.toInt
        val s = l.value.asInstanceOf[UTF8String].toString
        Some(Literal(UTF8String.fromString(s.substring(0, math.min(n, s.length))),
          StringType))
      case _ => None
    }
  }

  private val fmtY = DateTimeFormatter.ofPattern("yyyy")
  private val fmtM = DateTimeFormatter.ofPattern("yyyy-MM")
  private val fmtD = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  /** The literal must match the PHYSICAL partition column type: partition
    * columns read back from directory names are type-INFERRED, so a day key
    * like `2024-03-09` comes back as DateType and a year key as IntegerType
    * (month keys stay StringType). A string literal against those would
    * leave the injected comparison unresolved. */
  private def dateKeyLiteral(d: LocalDate, gran: String,
                             partType: DataType): Option[Literal] =
    (gran, partType) match {
      case ("d", DateType) => Some(Literal(d.toEpochDay.toInt, DateType))
      case ("y", IntegerType) => Some(Literal(d.getYear, IntegerType))
      case (_, StringType) =>
        val s = gran match {
          case "y" => d.format(fmtY)
          case "m" => d.format(fmtM)
          case "d" => d.format(fmtD)
        }
        Some(Literal(UTF8String.fromString(s), StringType))
      case _ => None
    }
}
