package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow, JoinedRow, UnsafeRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The body of `graft.operators.Analytics.prefixBefore` (its PLAN and
  * CONSISTENCY CONTRACT scaladoc is the specification): the
  * strictly-before prefix sum as ONE pinned execution plus a
  * driver-side carry.
  *
  *  1. PIN the caller's range-partitioned, slice-sorted frame once
  *     ([[RddShareBridge.pin]]).
  *  2. SUMMARY: one job over the pinned RDD, inside the pin's SQL
  *     execution id, returns one [[Slice]] per partition.
  *  3. CARRY: the driver folds the #slices summaries in slice order
  *     into each slice's carry and the totals of the groups at its two
  *     ends.
  *  4. FOLD: `mapPartitionsWithIndex` over the same pinned RDD appends
  *     the output columns; the result is a `LogicalRDD` leaf. With
  *     totals, a group that starts and ends inside one slice is held
  *     in the spillable `ExternalAppendOnlyUnsafeRowArray` (the buffer
  *     `WindowExec` keeps per window group) until it ends; every other
  *     group streams.
  *
  * Sums follow Spark's `sum`: NULL weights skip, longs add with
  * `Math.addExact` under ANSI (wrap otherwise), decimals add exactly
  * and are rounded HALF_UP into their output type (overflow raises
  * under ANSI, NULL otherwise). */
object PrefixFold {

  private val Mismatch = "prefixBefore: range-slice mismatch between " +
    "the summary and the fold — the RddShareBridge pinned-RDD " +
    "mechanism must have regressed (both read ONE pinned RDD; a Spark " +
    "upgrade changing its semantics, or an edit reintroducing a " +
    "second execution of the ranged frame, are the ways this fires)"

  /** How one weight adds: its column ordinal and type in the pinned
    * frame, and the output types of its cum and total. */
  private final case class Weight(ord: Int, in: DataType, cum: DataType,
                                  tot: DataType)

  /** Running weight sums of one group (NULL until a non-null weight
    * arrives, as `sum` is) and the min/max of its non-null keys. The
    * slice is sorted on the key, so min is the first non-null key seen
    * and max the last. */
  private final class Agg(val sums: Array[Any], var kmin: Any, var kmax: Any)
      extends Serializable {
    def copy(): Agg = new Agg(sums.clone(), kmin, kmax)
  }

  /** One slice's summary: row count, first and last group (their key
    * values), first and last non-null `key` in slice order, and the
    * first and last groups' [[Agg]]s within the slice (the same object
    * when the slice holds one group). */
  private final case class Slice(n: Long, first: Array[Any], last: Array[Any],
                                 kFirst: Any, kLast: Any, firstAgg: Agg,
                                 lastAgg: Agg)

  /** Everything the per-slice fold needs from the driver. */
  private final case class Plan(slice: Slice, carry: Agg, totFirst: Agg,
                                totLast: Agg)

  private def sumType(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case d: DecimalType => DecimalType.bounded(d.precision + 10, d.scale)
    case other => throw new IllegalArgumentException(
      s"prefixBefore: weight type $other is not summed exactly " +
        "(need an integral or decimal weight; a float or double sum " +
        "would depend on where the slices fall)")
  }

  /** `coalesce(off, 0) + coalesce(local, 0)` with off = sum of per-slice
    * sums: the coalesce never widens (off's integral range is ≥ 20
    * digits or already at the 38-digit cap), so the type is Add's. */
  private def cumType(dt: DataType, allowPrecisionLoss: Boolean): DataType =
    sumType(sumType(dt)) match {
      case off: DecimalType =>
        if (allowPrecisionLoss)
          DecimalType.adjustPrecisionScale(off.precision + 1, off.scale)
        else DecimalType.bounded(off.precision + 1, off.scale)
      case t => t
    }

  /** `(pinned, result)`: `pinned` is `sorted` pinned to one execution;
    * `result` is its rows plus, per weight `(name, column)`,
    * `__tot_<name>` and `__keymin`/`__keymax` (with `withTotals`) and
    * `__cum_<name>`, all nullable. `sorted` must be range-partitioned
    * and sorted within partitions on `keyCols :+ key`, ascending with
    * NULLs first. */
  def apply(sorted: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
            key: String, weights: Seq[(String, String)], withTotals: Boolean)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val conf = SQLConf.get
    val ansi = conf.ansiEnabled
    val out = sorted.queryExecution.analyzed.output
    def ordinal(c: String): Int = {
      val i = out.indexWhere(_.name == c)
      require(i >= 0, s"prefixBefore: no column '$c' in " +
        out.map(_.name).mkString("[", ",", "]"))
      i
    }
    val keyOrds = keyCols.map(ordinal).toArray
    val keyTypes = keyOrds.map(out(_).dataType)
    val kOrd = ordinal(key)
    val kType = out(kOrd).dataType
    val ws = weights.map { case (_, c) =>
      val dt = out(ordinal(c)).dataType
      Weight(ordinal(c), dt, cumType(dt, conf.decimalOperationsAllowPrecisionLoss),
        sumType(sumType(dt)))
    }.toArray
    require(ws.nonEmpty, "need at least one weight")
    val inMemRows = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold

    // ---- shared by the summary and the fold (both run in tasks) ----
    def newAgg(): Agg = new Agg(new Array[Any](ws.length), null, null)
    def addRow(a: Agg, r: InternalRow, keys: Boolean): Unit = {
      var j = 0
      while (j < ws.length) {
        val w = ws(j)
        if (!r.isNullAt(w.ord)) {
          val v: Any = w.in match {
            case LongType => r.getLong(w.ord)
            case IntegerType => r.getInt(w.ord).toLong
            case ShortType => r.getShort(w.ord).toLong
            case ByteType => r.getByte(w.ord).toLong
            case d: DecimalType => r.getDecimal(w.ord, d.precision, d.scale)
          }
          a.sums(j) = plus(a.sums(j), v)
        }
        j += 1
      }
      if (keys && !r.isNullAt(kOrd)) {
        val k = InternalRow.copyValue(r.get(kOrd, kType))
        if (a.kmin == null) a.kmin = k
        a.kmax = k
      }
    }
    def plus(a: Any, b: Any): Any = (a, b) match {
      case (null, y) => y
      case (x, null) => x
      case (x: Long, y: Long) => if (ansi) Math.addExact(x, y) else x + y
      case (x: Decimal, y: Decimal) => x + y
    }
    def merge(a: Agg, b: Agg): Agg = new Agg(
      a.sums.indices.map(j => plus(a.sums(j), b.sums(j))).toArray,
      if (a.kmin != null) a.kmin else b.kmin,
      if (b.kmax != null) b.kmax else a.kmax)
    def groupOf(r: InternalRow): Array[Any] = keyOrds.indices.map { i =>
      InternalRow.copyValue(r.get(keyOrds(i), keyTypes(i)))
    }.toArray
    // group equality: NULL == NULL, otherwise the key's sort ordering
    // (so -0.0/0.0 and NaNs fall in one group, as the range sort does)
    def orderings(): Array[Ordering[Any]] = keyTypes.map(PhysicalDataType.ordering)
    def sameKey(o: Ordering[Any], x: Any, y: Any): Boolean =
      if (x == null || y == null) x == null && y == null
      else o.compare(x, y) == 0
    def sameGroup(orderings: Array[Ordering[Any]], a: Array[Any],
                  b: Array[Any]): Boolean =
      a.indices.forall(i => sameKey(orderings(i), a(i), b(i)))
    def rowInGroup(orderings: Array[Ordering[Any]], r: InternalRow,
                   g: Array[Any]): Boolean =
      g.indices.forall(i => sameKey(orderings(i),
        if (r.isNullAt(keyOrds(i))) null else r.get(keyOrds(i), keyTypes(i)),
        g(i)))
    // the first and last non-null `key` of a slice, in slice order: the
    // summary records them and the fold re-checks them, so a slice that
    // keeps its row count but not its keys still fails the guard
    final class KeyEnds {
      var first: Any = null
      var last: Any = null
      def see(r: InternalRow): Unit = if (!r.isNullAt(kOrd)) {
        last = InternalRow.copyValue(r.get(kOrd, kType))
        if (first == null) first = last
      }
    }

    // steps 1+2: pin, then ONE summary job inside the pin's execution
    val (pin, slices) = RddShareBridge.pin(sorted) { rdd =>
      rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val ords = orderings()
        val ends = new KeyEnds
        var n = 0L
        var first: Array[Any] = null
        var firstAgg: Agg = null
        var cur: Array[Any] = null
        var agg: Agg = null
        while (it.hasNext) {
          val r = it.next()
          if (n == 0L || !rowInGroup(ords, r, cur)) {
            if (n > 0L && firstAgg == null) firstAgg = agg
            cur = groupOf(r)
            if (first == null) first = cur
            agg = newAgg()
          }
          addRow(agg, r, withTotals)
          ends.see(r)
          n += 1
        }
        Slice(n, first, cur, ends.first, ends.last,
          if (firstAgg == null) agg else firstAgg, agg)
      })
    }

    // step 3: the carry into each slice's first group, and the totals
    // of the groups at each slice's two ends — one pass over segments
    // (a slice's first and last group parts), merging equal neighbours
    val ords = orderings()
    val zero = newAgg()
    val plans = new Array[Plan](slices.length)
    var open: Array[Any] = null // the group of the last segment
    var openAgg: Agg = null
    val tail = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
    val totals = scala.collection.mutable.Map.empty[(Int, Boolean), Agg]
    def close(): Unit = if (open != null) {
      tail.foreach(ref => totals(ref) = openAgg)
      tail.clear()
    }
    def push(g: Array[Any], a: Agg, ref: Seq[(Int, Boolean)]): Unit = {
      if (open != null && sameGroup(ords, open, g)) openAgg = merge(openAgg, a)
      else { close(); open = g; openAgg = a }
      tail ++= ref
    }
    val carries = slices.indices.map { i =>
      val s = slices(i)
      if (s.n == 0L) zero
      else {
        val carry =
          if (open != null && sameGroup(ords, open, s.first)) openAgg else zero
        if (sameGroup(ords, s.first, s.last))
          push(s.first, s.firstAgg, Seq(i -> true, i -> false))
        else {
          push(s.first, s.firstAgg, Seq(i -> true))
          push(s.last, s.lastAgg, Seq(i -> false))
        }
        carry
      }
    }
    close()
    slices.indices.foreach { i =>
      plans(i) = Plan(slices(i), carries(i), totals.getOrElse(i -> true, zero),
        totals.getOrElse(i -> false, zero))
    }

    // step 4: the per-slice fold
    val added: Seq[AttributeReference] =
      (if (withTotals) weights.zip(ws).map { case ((n, _), w) =>
        AttributeReference(s"__tot_$n", w.tot)() } ++
        Seq(AttributeReference("__keymin", kType)(),
          AttributeReference("__keymax", kType)())
      else Nil) ++
        weights.zip(ws).map { case ((n, _), w) =>
          AttributeReference(s"__cum_$n", w.cum)() }
    def toOut(v: Any, dt: DataType, nullAsZero: Boolean): Any = (v, dt) match {
      case (null, _) if !nullAsZero => null
      case (null, LongType) => 0L
      case (null, d: DecimalType) =>
        Decimal(0L).toPrecision(d.precision, d.scale, Decimal.ROUND_HALF_UP,
          !ansi, null)
      case (x: Decimal, d: DecimalType) =>
        x.toPrecision(d.precision, d.scale, Decimal.ROUND_HALF_UP, !ansi, null)
      case (x, _) => x
    }
    val nAdded = added.length
    val folded = pin.rdd.mapPartitionsWithIndex { (i, it) =>
      val plan = plans(i)
      val ords = orderings()
      val kOrdering = PhysicalDataType.ordering(kType)
      val ends = new KeyEnds
      val extra = new GenericInternalRow(nAdded)
      val joined = new JoinedRow()
      val cums = if (withTotals) ws.length + 2 else 0
      var rows = 0L
      var group: Array[Any] = null
      var run: Agg = null
      var pending: Iterator[InternalRow] = Iterator.empty
      var lookahead: InternalRow = null
      var checked = false
      var buffer: ExternalAppendOnlyUnsafeRowArray = null
      // the pinned plan ends in a Sort, whose rows are UnsafeRows
      def unsafe(r: InternalRow): UnsafeRow = r.asInstanceOf[UnsafeRow]
      def pull(): InternalRow = {
        val r = it.next()
        rows += 1
        ends.see(r)
        r
      }
      def emit(r: InternalRow, tot: Agg): InternalRow = {
        if (withTotals) {
          var j = 0
          while (j < ws.length) {
            extra.update(j, toOut(tot.sums(j), ws(j).tot, nullAsZero = false))
            j += 1
          }
          extra.update(ws.length, tot.kmin)
          extra.update(ws.length + 1, tot.kmax)
        }
        var j = 0
        while (j < ws.length) {
          extra.update(cums + j, toOut(run.sums(j), ws(j).cum, nullAsZero = true))
          j += 1
        }
        addRow(run, r, keys = false)
        joined(r, extra)
      }
      def check(ok: Boolean): Unit = if (!ok) throw new IllegalStateException(
        s"$Mismatch (slice $i: ${plan.slice.n} rows summarised, $rows folded)")
      var tot: Agg = null
      new Iterator[InternalRow] {
        def hasNext: Boolean = pending.hasNext || lookahead != null ||
          it.hasNext || {
            if (!checked) {
              checked = true
              if (buffer != null) buffer.clear()
              check(rows == plan.slice.n && (rows == 0L ||
                sameGroup(ords, group, plan.slice.last)) &&
                sameKey(kOrdering, ends.first, plan.slice.kFirst) &&
                sameKey(kOrdering, ends.last, plan.slice.kLast))
            }
            false
          }
        def next(): InternalRow = {
          if (pending.hasNext) return pending.next()
          val r = if (lookahead != null) {
            val l = lookahead; lookahead = null; l
          } else pull()
          if (group != null && rowInGroup(ords, r, group)) return emit(r, tot)
          val first = group == null
          group = groupOf(r)
          if (first) {
            check(plan.slice.n > 0L && sameGroup(ords, group, plan.slice.first))
            run = plan.carry.copy()
            tot = plan.totFirst
          } else if (!withTotals || sameGroup(ords, group, plan.slice.last)) {
            run = newAgg()
            tot = plan.totLast
          } else {
            // an interior group: buffer it until it ends, then replay
            // it with its total known
            if (buffer == null) buffer = new ExternalAppendOnlyUnsafeRowArray(
              inMemRows, spillBytes, spillRows, spillBytes)
            buffer.clear()
            val whole = newAgg()
            buffer.add(unsafe(r))
            addRow(whole, r, keys = true)
            var more = true
            while (more && it.hasNext) {
              val n = pull()
              if (rowInGroup(ords, n, group)) {
                buffer.add(unsafe(n))
                addRow(whole, n, keys = true)
              }
              else { lookahead = n.copy(); more = false }
            }
            run = newAgg()
            tot = whole
            pending = buffer.generateIterator().map(u => emit(u, whole))
            return pending.next()
          }
          emit(r, tot)
        }
      }
    }
    // both leaves declare their slice count (no placement claim), so a
    // one-slice prefix feeds a global aggregate without an exchange
    val slicing = UnknownPartitioning(pin.rdd.getNumPartitions)
    (pin.frame(slicing),
      pin.copy(output = out.map(_.newInstance()) ++ added, rdd = folded)
        .frame(slicing))
  }
}
