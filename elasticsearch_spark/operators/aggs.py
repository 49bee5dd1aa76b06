"""Aggregations: ES aggs-dict -> DataFrame compiler (SURVEY.md §2.6).

Reference registry: search/SearchModule.java:363-460 (metrics + buckets),
:479-568 (pipeline aggs). ES computes shard-partial aggregations reduced at
the coordinator (SearchPhaseController.java:293-332); Spark's partial/final
physical aggregation is the built-in equivalent, so every metric/bucket here
compiles to plain groupBy/agg/window — Catalyst plans the two-phase reduce.

Flat-output convention (ES returns nested JSON; a DataFrame engine returns
one row per innermost bucket):
  * bucket aggs contribute their key column(s) + `doc_count`
  * metric sub-aggs contribute one column per metric (stats/extended_stats
    contribute `<name>_count`, `<name>_min`, ... families)
  * pipeline aggs contribute one column (or filter/sort the bucket rows)

Divergences (documented, deliberate):
  * terms is EXACT top-N (global groupBy) — no shard_size over-fetch or
    doc_count_error_upper_bound (TermsAggregationBuilder.java:62,179-180),
    because Spark's shuffle makes the exact answer as cheap as the sketch.
  * cardinality is exact count_distinct by default; pass
    {"approx": true} for HyperLogLog++ (approx_count_distinct), the
    reference's algorithm (HyperLogLogPlusPlus.java:53-70).
  * percentiles are exact interpolated percentiles, not TDigest
    (AbstractTDigestPercentilesAggregator.java); same contract as DFS-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKET_KINDS = {
    "terms",
    "rare_terms",
    "histogram",
    "date_histogram",
    "auto_date_histogram",
    "range",
    "date_range",
    "ip_range",
    "filters",
    "missing",
    "composite",
    "significant_terms",
    "global",
}

# auto_date_histogram interval ladder (AutoDateHistogramAggregationBuilder's
# rounding ladder): sub-week rungs are fixed epoch-second intervals (their
# calendar and epoch roundings coincide in UTC), week-and-coarser rungs are
# CALENDAR rungs — weeks start Monday, months/quarters/years on their first
# day, multi-year rungs on year//k*k — matching ES's Rounding calendar
# behavior (months of different lengths land on the 1st, not epoch
# multiples of 30 days). Each entry is ("fixed", seconds) or
# ("week"|"month"|"year", n).
AUTO_DH_LADDER = [
    ("fixed", s)
    for s in (1, 5, 10, 30, 60, 300, 600, 1800, 3600, 10800, 43200, 86400)
] + [
    ("week", 1), ("month", 1), ("month", 3),
    ("year", 1), ("year", 5), ("year", 10), ("year", 20),
    ("year", 50), ("year", 100),
]


def _auto_dh_bucket_count(rung, lo: int, hi: int) -> int:
    """Buckets the rung yields over [lo, hi] epoch seconds (UTC calendar)."""
    import datetime as _dt

    kind, n = rung
    if kind == "fixed":
        return hi // n - lo // n + 1
    dlo = _dt.datetime.fromtimestamp(lo, _dt.timezone.utc)
    dhi = _dt.datetime.fromtimestamp(hi, _dt.timezone.utc)
    if kind == "week":
        # Monday-aligned: ordinal day // 7 with Monday(ordinal 1) as week 0
        return (dhi.toordinal() - 1) // 7 - (dlo.toordinal() - 1) // 7 + 1
    if kind == "month":
        mlo = (dlo.year * 12 + dlo.month - 1) // n
        mhi = (dhi.year * 12 + dhi.month - 1) // n
        return mhi - mlo + 1
    return dhi.year // n - dlo.year // n + 1


def _auto_dh_key_col(rung, c_ts):
    """Bucket-key Column for the rung over a timestamp column (UTC session)."""
    kind, n = rung
    if kind == "fixed":
        sec = F.unix_timestamp(c_ts)
        return F.timestamp_seconds(F.floor(sec / n).cast("long") * n)
    if kind == "week":
        return F.date_trunc("week", c_ts)
    if kind == "month":
        return F.date_trunc("month" if n == 1 else "quarter", c_ts)
    if n == 1:
        return F.date_trunc("year", c_ts)
    return F.to_timestamp(
        F.concat(
            (F.floor(F.year(c_ts) / n).cast("long") * n).cast("string"),
            F.lit("-01-01"),
        )
    )


def ip_to_long(ip: str) -> int:
    """Dotted-quad -> uint32 (IpRangeAggregationBuilder bound parsing)."""
    a, b, c, d = (int(x) for x in ip.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def cidr_to_range(mask: str) -> tuple[int, int]:
    """CIDR -> [lo, hi) uint32 range."""
    ip, bits = mask.split("/")
    bits = int(bits)
    lo = ip_to_long(ip) & (~((1 << (32 - bits)) - 1) & 0xFFFFFFFF)
    return lo, lo + (1 << (32 - bits))


def ip_long_sql(field_expr: str) -> str:
    """SQL turning a dotted-quad string expr into its uint32 (shared shape
    with the oracle: split + positional casts)."""
    return (
        f"(cast(split({field_expr}, '\\\\.')[0] as bigint) * 16777216 + "
        f"cast(split({field_expr}, '\\\\.')[1] as bigint) * 65536 + "
        f"cast(split({field_expr}, '\\\\.')[2] as bigint) * 256 + "
        f"cast(split({field_expr}, '\\\\.')[3] as bigint))"
    )
PIPELINE_KINDS = {
    "cumulative_sum",
    "derivative",
    "moving_fn",
    "serial_diff",
    "avg_bucket",
    "sum_bucket",
    "min_bucket",
    "max_bucket",
    "stats_bucket",
    "extended_stats_bucket",
    "percentiles_bucket",
    "bucket_script",
    "bucket_selector",
    "bucket_sort",
}


def aggregate(docs: DataFrame, body: dict) -> DataFrame:
    """Run an ES-style {"query": ..., "aggs": {...}} body over a docs DF."""
    docs_unfiltered = docs  # for the `global` bucket (ignores the query)
    if body.get("query"):
        from ..plans import query_dsl as Q

        key_cols = body.get("_key_cols", ["conv_id", "turn_idx"])
        matched = Q.compile_query(body["query"], docs, key_cols)
        docs = docs.join(matched.select(*key_cols), key_cols, "left_semi")

    aggs: dict = body["aggs"]
    bucket = [(n, s) for n, s in aggs.items() if _kind(s) in BUCKET_KINDS]
    pipeline = [(n, s) for n, s in aggs.items() if _kind(s) in PIPELINE_KINDS]
    metrics = [
        (n, s)
        for n, s in aggs.items()
        if _kind(s) not in BUCKET_KINDS and _kind(s) not in PIPELINE_KINDS
    ]
    if len(bucket) > 1:
        raise ValueError("one bucket agg per level (nest via sub-aggs)")
    if bucket and metrics:
        # ES returns sibling metrics next to the bucket tree; the flat-output
        # convention has no row shape for that — fail loudly, never drop.
        raise ValueError(
            "top-level sibling metric aggs next to a bucket agg are unsupported "
            f"(bucket={bucket[0][0]!r}, metrics={[n for n, _ in metrics]}); "
            "nest metrics under the bucket agg's 'aggs' instead"
        )

    if not bucket:
        th = [(n, s) for n, s in metrics if _kind(s) == "top_hits"]
        if th:
            if len(metrics) > 1:
                raise ValueError(
                    "top_hits cannot be combined with sibling metric aggs "
                    f"({[n for n, _ in metrics]}); run them as separate aggregations"
                )
            (name, spec), = th
            return _top_hits(docs, spec[_kind(spec)], group_cols=[])
        cols = []
        for n, s in metrics:
            cols.extend(_metric_cols(docs, n, s))
        return docs.agg(*cols)

    (bname, bspec), = bucket
    kind = _kind(bspec)
    if kind == "global":
        # GlobalAggregationBuilder (reg SearchModule.java:393): one bucket
        # over ALL docs, ignoring the request query — sub-aggs computed on
        # the unfiltered table
        cols = [F.count(F.lit(1)).alias(f"{bname}_doc_count")]
        for n, s in bspec.get("aggs", {}).items():
            cols.extend(_metric_cols(docs_unfiltered, n, s))
        return docs_unfiltered.agg(*cols)
    sub = bspec.get("aggs", {})
    sub_metrics = [(n, s) for n, s in sub.items() if _kind(s) not in PIPELINE_KINDS]
    sub_pipeline = [(n, s) for n, s in sub.items() if _kind(s) in PIPELINE_KINDS] + pipeline

    th = [(n, s) for n, s in sub_metrics if _kind(s) == "top_hits"]
    plain = [(n, s) for n, s in sub_metrics if _kind(s) != "top_hits"]

    out, key_cols, order = _bucket(docs, bname, bspec[kind], kind, plain)
    if th:
        if plain or sub_pipeline:
            raise ValueError(
                "top_hits cannot be combined with sibling sub-metrics or "
                f"pipelines under one bucket agg (got {[n for n, _ in plain]} "
                f"+ {[n for n, _ in sub_pipeline]}); run them as separate aggregations"
            )
        (tn, ts), = th
        kc = _bucket_key_exprs(bname, bspec[kind], kind)
        kn = ([next(iter(s_)) for s_ in bspec[kind]["sources"]] if kind == "composite" else [bname])
        return _top_hits(docs, ts[_kind(ts)], group_cols=kc, group_names=kn)
    for pname, pspec in sub_pipeline:
        out = _apply_pipeline(out, pname, pspec, order)
    return out


# ------------------------------------------------------------------- helpers
def _kind(spec: dict) -> str:
    ks = [k for k in spec if k != "aggs"]
    if len(ks) != 1:
        raise ValueError(f"agg spec must have one kind: {list(spec)}")
    return ks[0]


def _metric_cols(docs: DataFrame, name: str, spec: dict) -> list[Column]:
    kind = _kind(spec)
    b = spec[kind]
    field = b.get("field")
    c = F.expr(field) if field else None
    if kind == "avg":
        return [F.avg(c).alias(name)]
    if kind == "sum":
        return [F.sum(c).alias(name)]
    if kind == "min":
        return [F.min(c).alias(name)]
    if kind == "max":
        return [F.max(c).alias(name)]
    if kind == "value_count":
        return [F.count(c).alias(name)]
    if kind == "cardinality":
        if b.get("approx"):
            return [F.approx_count_distinct(c, b.get("rsd", 0.0105)).alias(name)]
        return [F.count_distinct(c).alias(name)]
    if kind == "stats":
        return [
            F.count(c).alias(f"{name}_count"),
            F.min(c).cast("double").alias(f"{name}_min"),
            F.max(c).cast("double").alias(f"{name}_max"),
            F.avg(c).alias(f"{name}_avg"),
            F.sum(c).cast("double").alias(f"{name}_sum"),
        ]
    if kind == "extended_stats":
        # ES variance/std_deviation are population (ExtendedStatsAggregator)
        return _metric_cols(docs, name, {"stats": b}) + [
            F.var_pop(c).alias(f"{name}_variance"),
            F.stddev_pop(c).alias(f"{name}_std_deviation"),
            F.sum(c * c).cast("double").alias(f"{name}_sum_of_squares"),
        ]
    if kind == "weighted_avg":
        v = F.expr(b["value"]["field"])
        w = F.expr(b["weight"]["field"])
        return [(F.sum(v * w) / F.sum(w)).alias(name)]
    if kind == "percentile_ranks":
        # PercentileRanksAggregationBuilder (reg SearchModule.java:384): for
        # each value v, the percent of observed values <= v. Exact CDF —
        # same exact-vs-TDigest stance as percentiles below.
        return [
            (F.avg(F.when(c <= F.lit(float(v)), 1.0).otherwise(0.0)) * 100).alias(
                f"{name}_rank_{_pname(v)}"
            )
            for v in b["values"]
        ]
    if kind == "percentiles":
        pcts = b.get("percents", [1, 5, 25, 50, 75, 95, 99])
        method = b.get("method", "exact")
        if method in ("tdigest", "hdr"):
            # sketched percentiles (AbstractTDigestPercentilesAggregator /
            # AbstractHDRPercentilesAggregator): Spark's native mergeable
            # sketch is Greenwald-Khanna (approx_percentile), the same
            # bounded-error partial/final contract — documented algorithm
            # swap, same API surface. tdigest accuracy ~ 1/compression;
            # hdr accuracy ~ 10^-significant_digits, so map each spec's own
            # knob to the GK accuracy parameter (1/accuracy relative error).
            if method == "hdr":
                digits = int(
                    b.get("hdr", {}).get("number_of_significant_value_digits", 3)
                )
                acc = 10 ** max(1, min(digits, 5))
            else:
                acc = int(b.get("tdigest", {}).get("compression", 100)) * 100
            return [
                F.percentile_approx(c, F.lit(p / 100.0), F.lit(acc)).alias(
                    f"{name}_p{_pname(p)}"
                )
                for p in pcts
            ]
        return [
            F.percentile(c, F.lit(p / 100.0)).alias(f"{name}_p{_pname(p)}") for p in pcts
        ]
    if kind == "median_absolute_deviation":
        # exact MAD is a two-pass nested median -> aggregate_mad()
        raise ValueError("median_absolute_deviation: use aggregate_mad()")
    raise ValueError(f"unsupported metric agg: {kind}")


def _pname(p) -> str:
    return str(p).replace(".", "_")


def aggregate_mad(docs: DataFrame, field: str, group_by: list[str] | None = None) -> DataFrame:
    """median_absolute_deviation (reg SearchModule.java:388): exact two-pass
    median(|x - median(x)|), per group when group_by given."""
    gb = group_by or []
    med = docs.groupBy(*gb).agg(F.percentile(F.col(field), F.lit(0.5)).alias("_med"))
    j = docs.join(F.broadcast(med), gb) if gb else docs.crossJoin(F.broadcast(med))
    dev = j.select(*gb, F.abs(F.col(field) - F.col("_med")).alias("_dev"))
    out = dev.groupBy(*gb).agg(F.percentile(F.col("_dev"), F.lit(0.5)).alias("mad"))
    return out


def _bucket_key_exprs(bname: str, b: dict, kind: str) -> list[Column]:
    if kind in ("terms", "rare_terms", "significant_terms", "missing"):
        return [F.col(b["field"]).alias(bname)]
    if kind == "histogram":
        interval = float(b["interval"])
        off = float(b.get("offset", 0.0))
        c = F.col(b["field"]).cast("double")
        return [(F.floor((c - off) / interval) * interval + off).alias(bname)]
    if kind == "date_histogram":
        c = F.col(b["field"])
        if "calendar_interval" in b:
            return [F.date_trunc(b["calendar_interval"], c).alias(bname)]
        secs = _interval_seconds(b["fixed_interval"])
        return [
            (F.floor(F.unix_timestamp(c) / secs) * secs).cast("timestamp").alias(bname)
        ]
    if kind == "composite":
        out = []
        for src in b["sources"]:
            (sname, sspec), = src.items()
            out.append(F.col(sspec["terms"]["field"]).alias(sname))
        return out
    raise ValueError(kind)


def _interval_seconds(s: str) -> int:
    units = {"s": 1, "m": 60, "h": 3600, "d": 86400}
    return int(s[:-1]) * units[s[-1]]


def _bucket(docs: DataFrame, bname: str, b: dict, kind: str, sub_metrics):
    """Returns (bucket DF, key col names, pipeline ordering columns)."""
    mcols = []
    for n, s in sub_metrics:
        mcols.extend(_metric_cols(docs, n, s))

    if kind in ("terms", "rare_terms", "significant_terms"):
        key = _bucket_key_exprs(bname, b, kind)[0]
        grouped = docs.groupBy(key).agg(F.count(F.lit(1)).alias("doc_count"), *mcols)
        if kind == "terms":
            size = int(b.get("size", 10))
            order = b.get("order", {"_count": "desc"})
            (ofield, odir), = order.items()
            ocol = F.col("doc_count") if ofield == "_count" else (
                F.col(bname) if ofield == "_key" else F.col(ofield)
            )
            ocol = ocol.desc() if odir == "desc" else ocol.asc()
            return grouped.orderBy(ocol, F.col(bname).asc()).limit(size), [bname], [bname]
        if kind == "rare_terms":
            mx = int(b.get("max_doc_count", 1))
            return (
                grouped.where(F.col("doc_count") <= mx).orderBy(bname),
                [bname],
                [bname],
            )
        # significant_terms needs a background set -> significant_terms()
        raise ValueError("significant_terms: use significant_terms() directly")

    if kind in ("histogram", "date_histogram"):
        key = _bucket_key_exprs(bname, b, kind)[0]
        grouped = docs.groupBy(key).agg(F.count(F.lit(1)).alias("doc_count"), *mcols)
        mdc = int(b.get("min_doc_count", 1))
        if mdc > 0:
            grouped = grouped.where(F.col("doc_count") >= mdc)
        elif kind == "histogram":
            # ES min_doc_count=0: materialize empty buckets across data range
            interval = float(b["interval"])
            lohi = grouped.agg(
                F.min(bname).alias("lo"), F.max(bname).alias("hi")
            ).first()
            if lohi.lo is not None:
                lo_i, hi_i = round(lohi.lo / interval), round(lohi.hi / interval)
                full = docs.sparkSession.range(lo_i, hi_i + 1).select(
                    (F.col("id") * interval).alias(bname)
                )
                grouped = (
                    full.join(grouped, bname, "left")
                    .na.fill({"doc_count": 0})
                )
        return grouped.orderBy(bname), [bname], [bname]

    if kind == "auto_date_histogram":
        # pick the smallest ladder interval yielding <= `buckets` buckets over
        # the data range (AutoDateHistogramAggregationBuilder targets ~buckets
        # with its rounding ladder), then bucket + zero-fill like
        # date_histogram min_doc_count=0. Interval choice needs the global
        # min/max — a 1-row agg, the shard-reduce ES also performs.
        target = int(b.get("buckets", 10))
        c_ts = F.col(b["field"]).cast("timestamp")
        c = F.unix_timestamp(c_ts)
        lohi = docs.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
        if lohi.lo is None:
            rung = AUTO_DH_LADDER[0]
        else:
            rung = AUTO_DH_LADDER[-1]
            for r in AUTO_DH_LADDER:
                if _auto_dh_bucket_count(r, lohi.lo, lohi.hi) <= target:
                    rung = r
                    break
        key = _auto_dh_key_col(rung, c_ts).alias(bname)
        grouped = docs.groupBy(key).agg(F.count(F.lit(1)).alias("doc_count"), *mcols)
        if lohi.lo is not None:
            # zero-fill grid on the rung's own boundaries (calendar steps for
            # calendar rungs — a month grid steps month-starts, not 30 days)
            kind, n = rung
            if kind == "fixed":
                lo_i, hi_i = lohi.lo // n, lohi.hi // n
                full = docs.sparkSession.range(lo_i, hi_i + 1).select(
                    F.timestamp_seconds(F.col("id") * n).alias(bname)
                )
            else:
                step = {"week": f"{7 * n} days", "month": f"{n} months",
                        "year": f"{n} years"}[kind]
                bounds = docs.agg(
                    F.min(_auto_dh_key_col(rung, c_ts)).alias("lo"),
                    F.max(_auto_dh_key_col(rung, c_ts)).alias("hi"),
                ).first()
                full = docs.sparkSession.range(1).select(
                    F.explode(
                        F.expr(
                            f"sequence(timestamp'{bounds.lo}', "
                            f"timestamp'{bounds.hi}', interval {step})"
                        )
                    ).alias(bname)
                )
            grouped = full.join(grouped, bname, "left").na.fill({"doc_count": 0})
        return grouped.orderBy(bname), [bname], [bname]

    if kind in ("range", "date_range", "ip_range"):
        if kind == "ip_range":
            c = F.expr(ip_long_sql(b["field"])).cast("double")
        elif kind == "date_range":
            c = F.unix_timestamp(F.col(b["field"]).cast("timestamp")).cast("double")
        else:
            c = F.col(b["field"]).cast("double")

        def bound(v):
            if kind == "ip_range":
                return float(ip_to_long(v)) if isinstance(v, str) else float(v)
            if kind == "date_range":
                import datetime as _dt

                if isinstance(v, str):
                    return float(
                        _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
                        .replace(tzinfo=_dt.timezone.utc)
                        .timestamp()
                    )
                return float(v)
            return float(v)

        branches = []
        for r in b["ranges"]:
            if kind == "ip_range" and "mask" in r:
                lo, hi = cidr_to_range(r["mask"])
                label = r.get("key") or r["mask"]
                cond = (c >= float(lo)) & (c < float(hi))
                branches.append((label, cond, float(lo)))
                continue
            lo, hi = r.get("from"), r.get("to")
            label = r.get("key") or f"{'' if lo is None else _num(lo)}-{'' if hi is None else _num(hi)}"
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (c >= bound(lo))
            if hi is not None:
                cond = cond & (c < bound(hi))
            branches.append((label, cond, 0.0 if lo is None else bound(lo)))
        tagged = docs.select(
            "*",
            F.explode(
                F.filter(
                    F.array(
                        *[
                            F.when(cond, F.struct(F.lit(label).alias("key"), F.lit(srt).alias("_srt")))
                            for label, cond, srt in branches
                        ]
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("_r"),
        ).select("*", F.col("_r.key").alias(bname), F.col("_r._srt").alias("_srt"))
        grouped = tagged.groupBy(bname, "_srt").agg(
            F.count(F.lit(1)).alias("doc_count"), *mcols
        )
        return grouped.orderBy("_srt").drop("_srt"), [bname], [bname]

    if kind == "filters":
        named = b["filters"]
        branches = [(n, F.expr(sql)) for n, sql in named.items()]
        tagged = docs.select(
            "*",
            F.explode(
                F.filter(
                    F.array(*[F.when(cond, F.lit(n)) for n, cond in branches]),
                    lambda x: x.isNotNull(),
                )
            ).alias(bname),
        )
        grouped = tagged.groupBy(bname).agg(F.count(F.lit(1)).alias("doc_count"), *mcols)
        return grouped.orderBy(bname), [bname], [bname]

    if kind == "missing":
        c = F.col(b["field"])
        out = docs.where(c.isNull()).agg(F.count(F.lit(1)).alias("doc_count"), *mcols)
        return out, [], []

    if kind == "composite":
        knames = [next(iter(src)) for src in b["sources"]]
        keys = _bucket_key_exprs(bname, b, kind)
        grouped = docs.groupBy(*keys).agg(F.count(F.lit(1)).alias("doc_count"), *mcols)
        after = b.get("after")
        if after:
            from functools import reduce as _red

            vals = [after[n] for n in knames]
            # lexicographic (k1, k2, ...) > (v1, v2, ...)
            conds = []
            for i in range(len(knames)):
                eqs = [F.col(knames[j]) == F.lit(vals[j]) for j in range(i)]
                gt = F.col(knames[i]) > F.lit(vals[i])
                conds.append(_red(lambda a, x: a & x, eqs, F.lit(True)) & gt)
            grouped = grouped.where(_red(lambda a, x: a | x, conds))
        size = int(b.get("size", 10))
        return grouped.orderBy(*[F.col(k).asc() for k in knames]).limit(size), knames, knames

    raise ValueError(f"unsupported bucket agg: {kind}")


def _num(v) -> str:
    f = float(v)
    return str(int(f)) if f == int(f) else str(f)


def _top_hits(docs: DataFrame, b: dict, group_cols: list[Column], group_names: list[str] | None = None) -> DataFrame:
    """top_hits (InternalTopHits.java): per-bucket top-N rows; flat output =
    one row per hit with the bucket key leading."""
    size = int(b.get("size", 3))
    sort = b.get("sort", [])
    ocols = []
    for s in sort:
        (f_, d), = s.items()
        d = d["order"] if isinstance(d, dict) else d
        ocols.append(F.col(f_).desc() if d == "desc" else F.col(f_).asc())
    if not ocols:
        ocols = [F.col("conv_id").asc(), F.col("turn_idx").asc()]
    group_names = group_names or []
    if group_cols:
        rest = [c for c in docs.columns if c not in group_names]
        tagged = docs.select(*group_cols, *rest)
        w = Window.partitionBy(*group_names).orderBy(*ocols)
    else:
        tagged = docs
        w = Window.partitionBy().orderBy(*ocols)
    src = b.get("_source")
    out = tagged.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= size).drop("_rn")
    if src:
        out = out.select(*dict.fromkeys(group_names + list(src)))
    return out


def adjacency_matrix(docs: DataFrame, filters: dict[str, str]) -> DataFrame:
    """adjacency_matrix agg (reg SearchModule.java:399): doc_count for every
    named filter and every pairwise intersection (key 'a&b', names sorted)."""
    names = sorted(filters)
    tags = F.filter(
        F.array(*[F.when(F.expr(filters[n]), F.lit(n)) for n in names]),
        lambda x: x.isNotNull(),
    )
    tagged = docs.select(tags.alias("_tags"))
    singles = tagged.select(F.explode("_tags").alias("key"))
    a = tagged.select("_tags", F.explode("_tags").alias("_a"))
    pairs = a.select(
        "_a", F.explode("_tags").alias("_b")
    ).where(F.col("_a") < F.col("_b")).select(
        F.concat_ws("&", "_a", "_b").alias("key")
    )
    return (
        singles.unionByName(pairs)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("key")
    )


def matrix_stats(
    docs: DataFrame, fields: list[str], group_by: list[str] | None = None
) -> DataFrame:
    """matrix_stats agg (modules/aggs-matrix-stats MatrixStatsAggregator.java
    / support/RunningStats.java) — the last reference agg module without an
    analog here: per-field count/mean/variance/skewness/kurtosis plus the
    pairwise covariance and correlation matrices, long layout (one row per
    ordered field pair). ES semantics mirrored exactly: docs missing ANY
    field are skipped (RunningStats.add requires all fields), variance and
    covariance are sample (n-1), skewness is population g1
    (sqrt(n)*M3/M2^1.5), kurtosis is NON-excess n*M4/M2^2 (Spark's built-in
    is excess, hence +3). One built-in JVM aggregation per group — partial
    (map-side) moment combining comes free from Catalyst, no UDAF, no
    second pass; the stack() to long layout is a per-group constant-width
    pivot. Scales as one shuffle of O(groups * fields^2) moment cells.
    """
    d = docs
    for f in fields:
        d = d.where(F.col(f).isNotNull())
    gcols = group_by or []
    exprs = []
    for f in fields:
        c = F.col(f).cast("double")
        exprs += [
            F.count(c).alias(f"_n_{f}"),
            F.avg(c).alias(f"_mean_{f}"),
            F.var_samp(c).alias(f"_var_{f}"),
            F.skewness(c).alias(f"_skew_{f}"),
            (F.kurtosis(c) + F.lit(3.0)).alias(f"_kurt_{f}"),
        ]
    for a in fields:
        for b in fields:
            ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
            exprs += [
                F.covar_samp(ca, cb).alias(f"_cov_{a}_{b}"),
                F.corr(ca, cb).alias(f"_corr_{a}_{b}"),
            ]
    row = d.groupBy(*gcols).agg(*exprs)
    cells = []
    for a in fields:
        for b in fields:
            cells += [
                f"'{a}'", f"'{b}'", f"`_n_{a}`", f"`_mean_{a}`", f"`_var_{a}`",
                f"`_skew_{a}`", f"`_kurt_{a}`", f"`_cov_{a}_{b}`",
                f"`_corr_{a}_{b}`",
            ]
    stack = (
        f"stack({len(fields) ** 2}, {', '.join(cells)}) AS "
        "(name, other, count, mean, variance, skewness, kurtosis, "
        "covariance, correlation)"
    )
    return row.selectExpr(*gcols, stack)


def scripted_metric(
    docs: DataFrame,
    group_by: list[str],
    map_reduce,
    schema: str,
) -> DataFrame:
    """scripted_metric agg (reg SearchModule.java:456): arbitrary per-bucket
    computation as a grouped-map pandas UDAF. `map_reduce(key, pdf) ->
    pandas.DataFrame` plays init+map+combine+reduce in one Arrow batch per
    bucket — Spark's partial aggregation replaces the shard-combine phase."""
    return docs.groupBy(*group_by).applyInPandas(map_reduce, schema=schema)


def sampler(scored: DataFrame, shard_size: int = 100, score_col: str = "score") -> DataFrame:
    """sampler agg (reg SearchModule.java:403): run sub-aggs over only the
    top `shard_size` docs by relevance — in Spark, one exact global top-N
    (ES's version is per-shard; exact-N is the stronger contract)."""
    return scored.orderBy(F.col(score_col).desc()).limit(shard_size)


def diversified_sampler(
    scored: DataFrame,
    field: str,
    max_docs_per_value: int = 1,
    shard_size: int = 100,
    score_col: str = "score",
) -> DataFrame:
    """diversified_sampler (reg :407): like sampler but at most
    max_docs_per_value docs per distinct `field` value — a ranked window cap."""
    w = Window.partitionBy(field).orderBy(F.col(score_col).desc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_docs_per_value)
        .drop("_rn")
        .orderBy(F.col(score_col).desc())
        .limit(shard_size)
    )


def significant_text(
    docs_fg: DataFrame,
    docs_bg: DataFrame,
    text_col: str = "text",
    size: int = 10,
    min_doc_count: int = 3,
) -> DataFrame:
    """significant_text (reg SearchModule.java:426): significant_terms over
    the ANALYZED tokens of a text field — JLH contrast of per-document term
    frequency (distinct per doc) in the foreground vs background."""
    from ..functions import analysis

    def tok_df(d: DataFrame, name: str) -> DataFrame:
        return (
            d.select(F.explode(F.array_distinct(analysis.tokens(text_col))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(name))
        )

    fg = tok_df(docs_fg, "fg").where(F.col("fg") >= min_doc_count)
    bg = tok_df(docs_bg, "bg")
    n_fg, n_bg = docs_fg.count(), docs_bg.count()
    fgp = F.col("fg") / F.lit(float(n_fg))
    bgp = F.col("bg") / F.lit(float(n_bg))
    return (
        fg.join(bg, "term")
        .select(
            "term",
            F.col("fg").alias("doc_count"),
            F.col("bg").alias("bg_count"),
            F.when(fgp > bgp, (fgp - bgp) * (fgp / bgp)).otherwise(0.0).alias("score"),
        )
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(size)
    )


def significant_terms(
    docs_fg: DataFrame, docs_bg: DataFrame, field: str, size: int = 10
) -> DataFrame:
    """significant_terms (reg SearchModule.java:421): JLH score of foreground
    vs background frequency contrast.
    JLH = (fg% - bg%) * (fg% / bg%), fg% = df_fg/n_fg over the subset."""
    fg = docs_fg.groupBy(field).agg(F.count(F.lit(1)).alias("fg"))
    bg = docs_bg.groupBy(field).agg(F.count(F.lit(1)).alias("bg"))
    n_fg = docs_fg.count()
    n_bg = docs_bg.count()
    j = fg.join(bg, field)
    fgp = F.col("fg") / F.lit(float(n_fg))
    bgp = F.col("bg") / F.lit(float(n_bg))
    out = (
        j.select(
            field,
            F.col("fg").alias("doc_count"),
            F.col("bg").alias("bg_count"),
            F.when(fgp > bgp, (fgp - bgp) * (fgp / bgp)).otherwise(0.0).alias("score"),
        )
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(field).asc())
        .limit(size)
    )
    return out


# ------------------------------------------------------------------ pipeline
# moving_fn scripts answered by a window aggregate, by exact script text
# (MovingFunctions.java); any other script raises instead of being guessed.
MOVING_FUNCTIONS = {
    "MovingFunctions.max(values)": F.max,
    "MovingFunctions.min(values)": F.min,
    "MovingFunctions.sum(values)": F.sum,
    "MovingFunctions.unweightedAvg(values)": F.avg,
}


def _apply_pipeline(out: DataFrame, name: str, spec: dict, order: list[str]) -> DataFrame:
    """Second-pass ops over the bucket DF (reg SearchModule.java:479-568).
    Buckets are processed in natural key order, like ES histogram order."""
    kind = _kind(spec)
    b = spec[kind]
    path = b.get("buckets_path")
    if isinstance(path, str):
        src = "doc_count" if path == "_count" else path
    w = Window.orderBy(*[F.col(c).asc() for c in order]) if order else Window.orderBy(F.lit(1))
    if kind == "cumulative_sum":
        return out.withColumn(name, F.sum(src).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    if kind == "derivative":
        return out.withColumn(name, F.col(src) - F.lag(src, 1).over(w))
    if kind == "serial_diff":
        lag = int(b.get("lag", 1))
        return out.withColumn(name, F.col(src) - F.lag(src, lag).over(w))
    if kind == "moving_fn":
        window = int(b["window"])
        # ES window is the PRECEDING window excluding current by default shift=0
        script = b.get("script", "MovingFunctions.unweightedAvg(values)")
        fn = MOVING_FUNCTIONS.get(script) if isinstance(script, str) else None
        if fn is None:
            raise ValueError(
                f"moving_fn script {script!r} is not supported; use one of "
                f"{sorted(MOVING_FUNCTIONS)}"
            )
        return out.withColumn(name, fn(src).over(w.rowsBetween(-window, -1)))
    if kind in ("avg_bucket", "sum_bucket", "min_bucket", "max_bucket", "stats_bucket"):
        wa = Window.partitionBy()
        fns = {
            "avg_bucket": F.avg,
            "sum_bucket": F.sum,
            "min_bucket": F.min,
            "max_bucket": F.max,
        }
        if kind == "stats_bucket":
            for suffix, fn in [("avg", F.avg), ("sum", F.sum), ("min", F.min), ("max", F.max), ("count", F.count)]:
                out = out.withColumn(f"{name}_{suffix}", fn(src).over(wa))
            return out
        return out.withColumn(name, fns[kind](src).over(wa))
    if kind == "extended_stats_bucket":
        # ExtendedStatsBucketPipelineAggregator.java: accumulates count/sum/
        # min/max/sumOfSqrs over sibling buckets; InternalExtendedStats
        # derives population variance = sumOfSqrs/count - avg^2, std = sqrt,
        # bounds = avg +/- sigma*std (sigma default 2).
        sigma = float(b.get("sigma", 2.0))
        wa = Window.partitionBy()
        cnt = F.count(src).over(wa)
        s = F.sum(src).over(wa).cast("double")
        avg = s / cnt
        sq = F.sum(F.col(src) * F.col(src)).over(wa).cast("double")
        var = sq / cnt - avg * avg
        std = F.sqrt(var)
        return (
            out.withColumn(f"{name}_count", cnt)
            .withColumn(f"{name}_min", F.min(src).over(wa).cast("double"))
            .withColumn(f"{name}_max", F.max(src).over(wa).cast("double"))
            .withColumn(f"{name}_avg", avg)
            .withColumn(f"{name}_sum", s)
            .withColumn(f"{name}_sum_of_squares", sq)
            .withColumn(f"{name}_variance", var)
            .withColumn(f"{name}_std_deviation", std)
            .withColumn(f"{name}_std_upper", avg + F.lit(sigma) * std)
            .withColumn(f"{name}_std_lower", avg - F.lit(sigma) * std)
        )
    if kind == "percentiles_bucket":
        # PercentilesBucketPipelineAggregator.java: Collections.sort(data);
        # percentile = data[Math.round(p/100 * (n-1))] — nearest-rank with
        # half-up rounding, NO interpolation (unlike the percentiles metric).
        pcts = b.get("percents", [1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0])
        wa = Window.partitionBy()
        vals = F.sort_array(F.collect_list(F.col(src).cast("double")).over(wa))
        n = F.size(vals)
        for p in pcts:
            idx = F.round(F.lit(float(p) / 100.0) * (n - 1)).cast("int") + 1
            out = out.withColumn(f"{name}_p{_pname(p)}", F.element_at(vals, idx))
        return out
    if kind == "bucket_script":
        # script references bucket columns through buckets_path params
        expr = b["script"]
        for pname, ppath in (b.get("buckets_path") or {}).items():
            col = "doc_count" if ppath == "_count" else ppath
            expr = expr.replace(f"params.{pname}", col)
        return out.withColumn(name, F.expr(expr))
    if kind == "bucket_selector":
        expr = b["script"]
        for pname, ppath in (b.get("buckets_path") or {}).items():
            col = "doc_count" if ppath == "_count" else ppath
            expr = expr.replace(f"params.{pname}", col)
        return out.where(F.expr(expr))
    if kind == "bucket_sort":
        ocols = []
        for s in b.get("sort", []):
            (f_, d), = s.items()
            d = d["order"] if isinstance(d, dict) else d
            ocols.append(F.col(f_).desc() if d == "desc" else F.col(f_).asc())
        o = out.orderBy(*ocols) if ocols else out
        if "size" in b:
            o = o.limit(int(b["size"]))
        return o
    raise ValueError(f"unsupported pipeline agg: {kind}")
