"""Formula engine — F1-F9 (SURVEY.md §2.7).

The reference interprets an XML expression AST per device in pandas, doing
one remote read per ``mh`` leaf (reference lib2/calculate_formulas.py:236-264).
This engine *compiles* the AST driver-side into a single Spark plan: one
dense time grid, one left join per distinct series leaf, and the whole
arithmetic/function tree as a Column expression — Catalyst sees everything
and can collapse joins, push filters, and codegen the math. No per-node
materialization, no UDF.

AST tags (reference harmonizers/__init__.py:394-404):
  mo  operator (+ - * /)          mbr parenthesized subtree
  mh  series by hash              mc  named constant (KPIS_FACTORS)
  mv  literal value               mq  scalar query (driver-resolved)
  fun function call: fop = name in {CLIP, ABS, HE}, fpar* = arguments

Semantics pinned to the reference:
- evaluation order: all * and / (document order, left-assoc via splicing)
  then + and - (reference :257-263);
- every leaf is aligned onto the dense [ts_ini, ts_end] grid at the target
  freq (reference :161-162): same-freq passthrough, coarser->finer upsample
  by LOCF with SUM values split evenly across covered slots
  (reference :183-190), finer->coarser downsample with the series'
  aggregation function (reference :179-182); source values round(5) first;
- CLIP(lo, hi, x): null bounds don't clip (pandas clip skips NaN bounds),
  and a null x stays null (pandas clip keeps NaN, dropped at emit);
- ABS(x);
- HE(summer_max, winter_min, x): 1 below summer_max, 0 above winter_min,
  else carry previous output (LOCF), first undecided rows null; evaluated
  only over [ts_end - warmup, ts_end] exactly like the reference's __he__
  (reference :119-141) — queries reaching further back produce no HE rows
  before ts_end - warmup; the [ts_ini, ts_end - warmup) head is trimmed
  implicitly because the grid starts at ts_end - warmup;
- constants: the v2 KPIS_FACTORS (reference :40-42 — the live pipeline's
  values, not launcher.py's v1 set);
- arithmetic on missing values propagates null; callers drop nulls at emit
  (reference harmonizers/__init__.py:445).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass
from datetime import timedelta

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

# v2 constants (reference lib2/calculate_formulas.py:40-42). The v1 set in
# launcher.py/lib/__init__.py:7-9 differs; v2 is the live pipeline.
KPIS_FACTORS = {"HOUSE_FACTOR": 8.76, "CO2_FACTOR": 0.00009, "TREES_FACTOR": 0.0022}

OPERATION_MAP = {"SUM": "sum", "AVG": "avg", "LAST": "last"}


@dataclass
class SeriesRef:
    """A stored series the formula can reference by hash."""
    df: DataFrame          # (start TIMESTAMP, value DOUBLE)
    freq: int | str        # seconds, or "P1M" / "P1W"
    agg_func: str          # SUM | AVG | LAST


def comparable_seconds(freq: int | str) -> float:
    """reference :20-24 — P1M compares as 30 days."""
    if freq == "P1M":
        return 30 * 86400.0
    if freq == "P1W":
        return 7 * 86400.0
    return float(freq)


def floor_ts(ts: pd.Timestamp, freq: int | str) -> pd.Timestamp:
    """reference isodate_floor (:11-17)."""
    ts = pd.Timestamp(ts)
    if freq == "P1M":
        return ts.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    if freq == "P1W":
        return ts.replace(hour=0, minute=0, second=0, microsecond=0) - pd.DateOffset(
            days=ts.weekday()
        )
    return ts.floor(pd.Timedelta(seconds=int(freq)))


def _trunc_col(c: Column, freq: int | str) -> Column:
    if freq == "P1M":
        return F.date_trunc("month", c)
    if freq == "P1W":
        return F.date_trunc("week", c)
    s = int(freq)
    return F.timestamp_seconds(F.floor(F.unix_timestamp(c) / s) * s)


def resolve_series(
    candidates: list[SeriesRef], target_freq: int | str
) -> SeriesRef | None:
    """F3 — nearest-frequency candidate selection: a device may store the
    same property at several frequencies; try them ordered by
    |comparable_freq(candidate) - comparable_freq(target)| ascending and
    take the first non-empty one (reference lib2/calculate_formulas.py:
    163-176, sorted hash_list + `if tmp.empty: continue`). Returns None when
    every candidate is empty — the reference emits an all-NaN series; the
    engine compiles that leaf to a NULL column (same emit-time drop).

    The emptiness probe is one cheap `isEmpty()` action per tried candidate
    (LIMIT-1 plan); the reference pays a full remote read per try."""
    ordered = sorted(
        candidates,
        key=lambda r: abs(comparable_seconds(r.freq) - comparable_seconds(target_freq)),
    )
    for ref in ordered:
        if not ref.df.isEmpty():
            return ref
    return None


class FormulaEngine:
    def __init__(
        self,
        spark: SparkSession,
        series: "dict[str, SeriesRef | list[SeriesRef]]",
        constants: dict[str, float] | None = None,
        scalar_queries: dict[str, float] | None = None,
        he_warmup_days: int = 180,
    ):
        self.spark = spark
        self.series = series
        self.constants = dict(constants or KPIS_FACTORS)
        self.scalar_queries = dict(scalar_queries or {})
        self.he_warmup_days = he_warmup_days

    # -- grid ---------------------------------------------------------------
    def _grid(self, ts_ini, ts_end, freq, keys_df: DataFrame | None = None) -> DataFrame:
        t0 = floor_ts(ts_ini, freq)
        t1 = floor_ts(ts_end, freq)
        step = (
            "interval 1 month" if freq == "P1M"
            else "interval 1 week" if freq == "P1W"
            else f"interval {int(freq)} seconds"
        )
        time_grid = self.spark.range(1).select(
            F.explode(
                F.sequence(
                    F.lit(t0.to_pydatetime()).cast("timestamp"),
                    F.lit(t1.to_pydatetime()).cast("timestamp"),
                    F.expr(step),
                )
            ).alias("start")
        )
        if keys_df is None:
            return time_grid
        # one row per (device, slot): the dense grid every leaf aligns onto
        return keys_df.crossJoin(time_grid)

    # -- leaf alignment (F3 / R6 / R7) ---------------------------------------
    def _align_series(self, ref: SeriesRef, freq):
        """Align a stored series to the target freq as a SPARSE
        (*keys, start, value) frame — only the slots the source actually
        covers — plus an optional ``post`` callback applied after the leaf is
        left-joined onto the dense frame (SUM-downsample uses it to 0-fill
        empty windows inside the source span). One left join per leaf; the
        dense grid is never re-joined per leaf. In multi-device mode
        (self._keys non-empty) every step is keyed: the whole device
        population aligns in ONE plan — the Spark replacement for the
        reference's per-device driver loop
        (reference lib2/calculate_formulas.py:236-264)."""
        ks = self._keys
        src = ref.df.select(
            *ks, F.col("start").alias("__src_ts"), F.round(F.col("value"), 5).alias("__v")
        )
        target_s = comparable_seconds(freq)
        source_s = comparable_seconds(ref.freq)
        if target_s > source_s:
            # downsample with the series' aggregation function (R6)
            win = _trunc_col(F.col("__src_ts"), freq).alias("start")
            g = src.groupBy(*ks, win)
            fn = OPERATION_MAP[ref.agg_func]
            if fn == "sum":
                # pandas resample().sum() yields 0.0 for empty windows inside
                # the source span; NaN appears only outside it (grid reindex)
                agg = g.agg(F.sum("__v").alias("value"))
                i = self._leaf_i
                lo, hi = f"__lo_{i}", f"__hi_{i}"
                if ks:
                    span = src.groupBy(*ks).agg(
                        _trunc_col(F.min("__src_ts"), freq).alias(lo),
                        _trunc_col(F.max("__src_ts"), freq).alias(hi),
                    )
                else:
                    span = src.agg(
                        _trunc_col(F.min("__src_ts"), freq).alias(lo),
                        _trunc_col(F.max("__src_ts"), freq).alias(hi),
                    )

                def post(df, col):
                    d = (
                        df.join(span, ks, "left")
                        if ks
                        else df.crossJoin(F.broadcast(span))
                    )
                    name = f"__leafv_{i}"
                    filled = F.when(
                        F.col("start").between(F.col(lo), F.col(hi)),
                        F.coalesce(col, F.lit(0.0)),
                    ).otherwise(col)
                    return d.withColumn(name, filled).drop(lo, hi), F.col(name)

                return agg, post
            elif fn == "avg":
                agg = g.agg(F.avg("__v").alias("value"))
            else:
                # pandas resample().last() skips NaN values
                agg = g.agg(
                    F.expr(
                        "max_by(__v, __src_ts) FILTER (WHERE __v IS NOT NULL)"
                    ).alias("value")
                )
            return agg, None
        if target_s < source_s:
            return self._upsample(src, ref, freq)
        # same freq: snap to grid labels
        return (
            src.select(
                *ks,
                _trunc_col(F.col("__src_ts"), freq).alias("start"),
                F.col("__v").alias("value"),
            ),
            None,
        )

    def _upsample(self, src: DataFrame, ref: SeriesRef, freq):
        """R7 upsample. Integer target freq: slot-explode + equi-join — each
        source point claims the grid slots in [its ts, next point's ts),
        clamped to the grid span, which is exactly the as-of LOCF; SUM values
        divide by the claimed-slot count (reference :183-190). This avoids the
        O(|grid|·|src|) BroadcastNestedLoopJoin a `start >= src_ts` range join
        plans as. Calendar target freqs (P1W target over a P1M source — rare,
        tiny inputs) keep the range join."""
        ks = self._keys
        on = ks + ["start"]
        if freq in ("P1M", "P1W"):
            # calendar target: as-of-attach each grid slot to the latest
            # source point at or before it, via the union+LOCF asof_join
            # (one hash exchange + window — a raw `start >= __src_ts`
            # condition would plan as a BroadcastNestedLoopJoin)
            from timeseries_harmonizer_spark.operators.joins import asof_join

            right = src.select(
                *ks, F.col("__src_ts").alias("start"), "__v", "__src_ts"
            )
            asof = asof_join(
                self._grid_df, right, on="start", by=ks,
                right_cols=["__v", "__src_ts"],
            )
            val = F.col("__v_r")
            if ref.agg_func == "SUM":
                # split the SUM across the grid slots that claimed this
                # source point (same grouping key as the asof window)
                cnt = F.count("__src_ts_r").over(
                    W.partitionBy(*ks, "__src_ts_r")
                )
                val = F.when(
                    F.col("__src_ts_r").isNotNull(), F.col("__v_r") / cnt
                ).otherwise(F.col("__v_r"))
            return asof.select(*on, val.alias("value")), None
        step = int(freq)
        t0s = F.lit(int(self._t0.timestamp()))
        t1s = F.lit(int(self._t1.timestamp()))
        s = F.unix_timestamp(F.col("__src_ts"))
        # a source frame may hold duplicate timestamps (SeriesRef takes any
        # frame, and nothing upstream dedups it): the value tiebreak makes
        # the largest duplicate the one that claims the slots, whatever
        # the input order (the earlier ones get lead == their own ts and
        # claim none)
        lead_w = (W.partitionBy(*ks) if ks else W.partitionBy()).orderBy(
            "__src_ts", "__v"
        )
        nxt = F.unix_timestamp(F.lead("__src_ts").over(lead_w))
        # first grid slot >= source ts; last grid slot < next source ts
        first = F.greatest(t0s + F.ceil((s - t0s) / step) * step, t0s)
        last_sec = F.least(F.coalesce(nxt - 1, t1s), t1s)
        last = t0s + F.floor((last_sec - t0s) / step) * step
        e = src.select(
            *ks, "__v", first.cast("long").alias("__f"), last.cast("long").alias("__l")
        ).where(F.col("__f") <= F.col("__l"))
        v = F.col("__v")
        if ref.agg_func == "SUM":
            v = v / ((F.col("__l") - F.col("__f")) / step + 1)
        exploded = e.select(
            *ks,
            v.alias("value"),
            F.explode(F.sequence("__f", "__l", F.lit(step))).alias("__w"),
        )
        aligned = exploded.select(
            *ks, F.timestamp_seconds(F.col("__w")).alias("start"), "value"
        )
        return aligned, None

    # -- compile ------------------------------------------------------------
    def evaluate(self, formula_xml: str, ts_ini, ts_end, freq: int | str) -> DataFrame:
        """Compile + run for a single pre-resolved series set; returns
        (start, value) over [ts_ini, ts_end]."""
        return self._evaluate(formula_xml, ts_ini, ts_end, freq, [], None)

    def evaluate_many(
        self,
        formula_xml: str,
        ts_ini,
        ts_end,
        freq: int | str,
        keys: list[str],
        keys_df: DataFrame | None = None,
    ) -> DataFrame:
        """Evaluate one formula template for EVERY device in a single Spark
        plan — the scale-out replacement for the reference's per-device loop
        (reference lib2/calculate_formulas.py:236-264, one remote read + one
        pandas eval per device). Each SeriesRef.df must carry the key
        column(s); the result is (*keys, start, value). keys_df (distinct key
        rows) defaults to the union of keys seen across referenced leaves."""
        if not keys:
            raise ValueError("evaluate_many requires at least one key column")
        if keys_df is None:
            tree = ET.fromstring(f"<root>{formula_xml}</root>")
            leaf_names = {mh.text for mh in tree.iter("mh")}
            if not leaf_names:
                raise ValueError("no series leaves; pass keys_df explicitly")
            parts = []
            for n in sorted(leaf_names):
                ref = self.series[n]
                # F3 list-valued leaves: every candidate's keys participate
                cands = ref if isinstance(ref, (list, tuple)) else [ref]
                parts.extend(c.df.select(*keys) for c in cands)
            keys_df = parts[0]
            for p in parts[1:]:
                keys_df = keys_df.unionByName(p)
            keys_df = keys_df.distinct()
        return self._evaluate(formula_xml, ts_ini, ts_end, freq, list(keys), keys_df)

    def _evaluate(
        self, formula_xml: str, ts_ini, ts_end, freq, keys: list[str],
        keys_df: DataFrame | None,
    ) -> DataFrame:
        tree = ET.fromstring(f"<root>{formula_xml}</root>")
        has_he = any(
            fop is not None and fop.text == "HE" for fop in tree.iter("fop")
        )
        # HE formulas evaluate only over [ts_end - warmup, ts_end], exactly
        # like the reference's __he__ (:119-141): a shorter query gets its
        # warmup head trimmed below; a longer one has no rows before it.
        eval_ini = (
            pd.Timestamp(ts_end) - timedelta(days=self.he_warmup_days)
            if has_he
            else pd.Timestamp(ts_ini)
        )
        self._keys = keys
        self._t0 = floor_ts(eval_ini, freq)
        self._t1 = floor_ts(ts_end, freq)
        grid = self._grid(eval_ini, ts_end, freq, keys_df)
        # every leaf aligns onto this same static grid — reuse it instead of
        # re-deriving it per leaf with a distinct() (one shuffle per leaf)
        self._grid_df = grid
        self._leaf_i = 0
        df, col = self._compile(tree, grid, freq)
        out = df.select(*keys, "start", col.cast("double").alias("value"))
        lo = floor_ts(ts_ini, freq).to_pydatetime()
        return out.where(F.col("start") >= F.lit(lo).cast("timestamp"))

    def _attach_leaf(
        self, df: DataFrame, aligned: DataFrame, post=None
    ) -> tuple[DataFrame, Column]:
        name = f"__leaf_{self._leaf_i}"
        self._leaf_i += 1
        df = df.join(
            aligned.withColumnRenamed("value", name),
            self._keys + ["start"],
            "left",
        )
        col: Column = F.col(name)
        if post is not None:
            df, col = post(df, col)
        return df, col

    def _attach_multi_freq_leaf(
        self, cands: list[SeriesRef], df: DataFrame, freq
    ) -> tuple[DataFrame, Column]:
        """F3 in multi-device mode: each key elects the FIRST candidate (in
        nearest-frequency order) holding any of its rows — the same
        wholesale per-device selection the reference's loop makes
        (lib2/calculate_formulas.py:163-176), but in one Spark plan: tag
        each candidate's key set, take the min candidate index per key,
        semi-filter each candidate's source to its electorate, attach each
        as a normal aligned leaf, and coalesce the leaf columns in candidate
        order. A key's non-elected candidates contribute no rows (filtered
        before alignment), so the coalesce can never mix frequencies within
        a device."""
        ks = self._keys
        ordered = sorted(
            cands,
            key=lambda r: abs(
                comparable_seconds(r.freq) - comparable_seconds(freq)
            ),
        )
        flags = None
        for i, ref in enumerate(ordered):
            fl = ref.df.select(*ks).distinct().withColumn("__cand", F.lit(i))
            flags = fl if flags is None else flags.unionByName(fl)
        chosen = flags.groupBy(*ks).agg(F.min("__cand").alias("__cand"))
        cols: list[Column] = []
        for i, ref in enumerate(ordered):
            elect = chosen.where(F.col("__cand") == i).drop("__cand")
            ref_i = SeriesRef(
                df=ref.df.join(elect, ks, "left_semi"),
                freq=ref.freq,
                agg_func=ref.agg_func,
            )
            aligned, post = self._align_series(ref_i, freq)
            df, col = self._attach_leaf(df, aligned, post)
            cols.append(col)
        return df, F.coalesce(*cols)

    def _compile(self, node: ET.Element, df: DataFrame, freq) -> tuple[DataFrame, Column]:
        children = list(node)
        if len(children) == 0:
            tag = node.tag
            if tag == "mv":
                return df, F.lit(float(node.text))
            if tag == "mc":
                return df, F.lit(float(self.constants[node.text]))
            if tag == "mq":
                return df, F.lit(float(self.scalar_queries[node.text]))
            if tag == "mh":
                ref = self.series[node.text]
                if isinstance(ref, (list, tuple)):
                    # F3: multiple stored frequencies for this leaf
                    if self._keys:
                        # multi-device: resolution must be PER KEY (the
                        # reference picks per device) — a global pick would
                        # silently null out devices stored only at another
                        # frequency
                        return self._attach_multi_freq_leaf(list(ref), df, freq)
                    ref = resolve_series(list(ref), freq)
                    if ref is None:  # every candidate empty -> all-NaN leaf
                        return df, F.lit(None).cast("double")
                aligned, post = self._align_series(ref, freq)
                return self._attach_leaf(df, aligned, post)
            raise ValueError(f"unknown leaf tag {tag!r}")
        if node.tag == "fun":
            return self._compile_fun(node, df, freq)
        if len(children) == 1:
            return self._compile(children[0], df, freq)
        # operator splice: * / first (document order), then + - (F1/F2)
        items: list = []
        for ch in children:
            if ch.tag == "mo":
                items.append(ch.text.strip())
            else:
                df, col = self._compile(ch, df, freq)
                items.append(col)
        for ops in ("*/", "+-"):
            i = 1
            while i < len(items) - 1:
                if isinstance(items[i], str) and items[i] in ops:
                    a, op, b = items[i - 1], items[i], items[i + 1]
                    if op == "*":
                        r = a * b
                    elif op == "/":
                        r = a / b
                    elif op == "+":
                        r = a + b
                    else:
                        r = a - b
                    items[i - 1 : i + 2] = [r]
                else:
                    i += 2
        assert len(items) == 1
        return df, items[0]

    def _compile_fun(self, node: ET.Element, df: DataFrame, freq) -> tuple[DataFrame, Column]:
        fname = node.find("./fop").text
        params = node.findall("./fpar")
        if fname == "ABS":
            df, c = self._compile(params[0], df, freq)
            return df, F.abs(c)
        if fname == "CLIP":
            df, lo = self._compile(params[0], df, freq)
            df, hi = self._compile(params[1], df, freq)
            df, x = self._compile(params[2], df, freq)
            # null bounds don't clip (pandas clip skips NaN bounds) — that is
            # the ONLY intended use of least/greatest's null-skipping; a null
            # input must stay null (pandas keeps NaN, dropped at emit), so
            # guard it or the bound would be fabricated as the value.
            clipped = F.greatest(F.least(x, hi), lo)
            return df, F.when(x.isNull(), F.lit(None).cast("double")).otherwise(clipped)
        if fname == "HE":
            df, summer_max = self._compile(params[0], df, freq)
            df, winter_min = self._compile(params[1], df, freq)
            df, x = self._compile(params[2], df, freq)
            decided = (
                F.when(x < summer_max, F.lit(1.0))
                .when(x > winter_min, F.lit(0.0))
                .otherwise(F.lit(None))
            )
            # carry previous output = LOCF of decided flags; rows where any
            # input is null stay null (reference aligns on common indexes).
            # In multi-device mode the window partitions by key, so the LOCF
            # scan parallelizes across devices instead of one global sort.
            name = f"__he_{self._leaf_i}"
            self._leaf_i += 1
            df = df.withColumn(name, decided)
            he_w = (
                W.partitionBy(*self._keys) if self._keys else W.partitionBy()
            ).orderBy("start")
            carried = F.last(name, ignorenulls=True).over(
                he_w.rowsBetween(W.unboundedPreceding, 0)
            )
            valid = x.isNotNull() & summer_max.isNotNull() & winter_min.isNotNull()
            return df, F.when(valid, carried).otherwise(F.lit(None))
        raise ValueError(f"unknown function {fname!r}")


# ---------------------------------------------------------------------------
# F7 — dependency ordering
# ---------------------------------------------------------------------------

def order_by_dependencies(formulas: dict[str, str]) -> list[list[str]]:
    """Topological levels for calculation targets: priority(target) =
    1 + max(priority of referenced targets); independent targets are level 0
    (reference lib2/calculate_formulas.py:75-110). Returns a list of levels,
    each a list of target hashes, to run as sequential Spark jobs."""
    deps: dict[str, set[str]] = {}
    for target, xml in formulas.items():
        tree = ET.fromstring(f"<root>{xml}</root>")
        leaves = {mh.text for mh in tree.iter("mh")}
        deps[target] = leaves & set(formulas.keys())
    prio: dict[str, int] = {}

    def get_prio(t: str, seen: frozenset = frozenset()) -> int:
        if t in prio:
            return prio[t]
        if t in seen:  # cycle -> 0, like the reference's bare except (:96-97)
            return 0
        p = 0
        for d in deps[t]:
            p = max(p, get_prio(d, seen | {t}) + 1)
        prio[t] = p
        return p

    for t in formulas:
        get_prio(t)
    levels: dict[int, list[str]] = {}
    for t, p in prio.items():
        levels.setdefault(p, []).append(t)
    return [sorted(levels[p]) for p in sorted(levels)]


# ---------------------------------------------------------------------------
# F9 — compliance limits
# ---------------------------------------------------------------------------

def harmonize_limits(
    engine: FormulaEngine,
    measurement: DataFrame,  # (start, value)
    lower_activation_xml: str,
    lower_formula_xml: str,
    upper_activation_xml: str,
    upper_formula_xml: str,
    ts_ini,
    ts_end,
    freq: int | str,
) -> DataFrame:
    """Compliance = measurement within [lower, upper] where both activations
    fire (non-zero, non-null); 5-way inner alignment then
    int(between) (reference harmonizers/__init__.py:463-512)."""
    la = engine.evaluate(lower_activation_xml, ts_ini, ts_end, freq)
    lf = engine.evaluate(lower_formula_xml, ts_ini, ts_end, freq)
    ua = engine.evaluate(upper_activation_xml, ts_ini, ts_end, freq)
    uf = engine.evaluate(upper_formula_xml, ts_ini, ts_end, freq)

    def activation(df):
        # 0 -> null -> dropped; survivors become 1.0 (reference :482-485)
        return df.where(F.col("value").isNotNull() & (F.col("value") != 0)).select(
            "start", F.lit(1.0).alias("value")
        )

    la, ua = activation(la), activation(ua)
    lf = lf.where(F.col("value").isNotNull())
    uf = uf.where(F.col("value").isNotNull())
    m = measurement.where(F.col("value").isNotNull())
    joined = (
        m.select("start", F.col("value").alias("measurement"))
        .join(la.select("start"), "start")
        .join(ua.select("start"), "start")
        .join(lf.select("start", F.col("value").alias("lower_limit")), "start")
        .join(uf.select("start", F.col("value").alias("upper_limit")), "start")
    )
    return joined.select(
        "start",
        F.col("measurement")
        .between(F.col("lower_limit"), F.col("upper_limit"))
        .cast("int")
        .cast("double")
        .alias("value"),
    )


def get_timeseries_components(formula_xml: str) -> dict[str, str]:
    """F8: collect the leaf references of a formula AST (debug aid,
    reference lib2/calculate_formulas.py:266-290). Returns {leaf_text: tag}
    for every mh/mc/mv/mq leaf, in document order."""
    tree = ET.fromstring(f"<root>{formula_xml}</root>")
    out: dict[str, str] = {}
    for node in tree.iter():
        if node.tag in ("mh", "mc", "mv", "mq") and len(list(node)) == 0:
            out[node.text] = node.tag
    return out
