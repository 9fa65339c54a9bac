"""Polygon×polygon overlay: intersection area between a (large) subject
polygon layer and a (dimension-sized) CONVEX clip/zone layer — the areal-
interpolation / land-use-overlay primitive (the reference delegates
geometry set-ops to JTS, e.g. Feature.toGeometry() consumers; here the
overlay is a first-class distributed operator).

Spark-first shape: the zone layer broadcasts (zone tables are
dimension-sized at any corpus scale); the subject layer is scanned ONCE —
bbox prefilter inside the broadcast nested-loop join, then a chain of
``clip_k`` Sutherland–Hodgman half-plane passes and one shoelace fold,
all pure JVM higher-order Columns (zero shuffle, zero Python).

Every public op composes the same steps, each written once per engine:
zone prep (``_zones`` / ``_zones_sql``: degenerate-zone guard, CCW),
pairing (``_pairs`` / ``_pairs_sql``: broadcast, or the ``cell``
grid-blocked join for a fact-sized zone layer), a measure kernel (S-H
chain + shoelace, or Cyrus–Beck), and for non-convex zones the signed
fan (``_general`` / ``_general_sql``).

Cross-engine determinism: every pass/fold expression is emitted from the
SAME generator for Spark and DuckDB with textually identical float op
order (the tiles_sink.sh_clip_pass_expr law); the chain contains no
transcendentals — products, sums, and one guarded division per crossing —
so results are IEEE-bit-identical and the quantized output hash cannot
drift.  Each pass LET-BINDS its input ring (referenced once), keeping
chained passes linear in size (the CollapseProject blow-up lesson,
tiles_sink.py:418-427).

Contract: clip rings must be CONVEX with exactly ``clip_k`` vertices
(orientation is auto-normalized via the exact shoelace sign).  Subject
rings may be any SIMPLE polygon; the standard S-H caveat applies — a
non-convex subject that enters and leaves a zone more than once yields
one ring with zero-width bridge edges, whose shoelace contributions
cancel, so the AREA (this operator's output) stays correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _engine_ops(engine: str, tag: str, r: str):
    """Shared expression-builder kit (mirrors sh_clip_pass_expr)."""
    rr, s_, e_, v_ = f"rr{tag}", f"s{tag}", f"e{tag}", f"v{tag}"
    if engine == "spark":
        s, e = s_, e_
        rot = f"concat(slice({rr}, size({rr}), 1), slice({rr}, 1, size({rr}) - 1))"

        def struct_(ix, iy):
            return f"named_struct('x', {ix}, 'y', {iy})"

        def zip_(body):
            return f"zip_with({rot}, {rr}, ({s_}, {e_}) -> {body})"

        def let_(body):
            return f"element_at(transform(array({r}), {rr} -> {body}), 1)"

        flt, ln = "filter", "size"

        def arr(items):
            return f"array({', '.join(items)})"

    else:
        s, e = f"p{tag}[1]", f"p{tag}[2]"
        rot = f"list_concat({rr}[-1:], {rr}[:len({rr}) - 1])"

        def struct_(ix, iy):
            return f"{{'x': {ix}, 'y': {iy}}}"

        def zip_(body):
            return f"list_transform(list_zip({rot}, {rr}), p{tag} -> {body})"

        def let_(body):
            return f"(list_transform([{r}], {rr} -> {body}))[1]"

        flt, ln = "list_filter", "len"

        def arr(items):
            return f"[{', '.join(items)}]"

    return rr, s, e, v_, rot, struct_, zip_, let_, flt, ln, arr


def halfplane_pass_expr(
    r: str, ax: str, ay: str, bx: str, by: str, engine: str, tag: str = ""
) -> str:
    """One S-H clip pass against the ARBITRARY half-plane left of the
    directed edge A→B (CCW clip ⇒ interior), as an expression string
    over a ring column ``r`` (array<struct<x,y>> double) — the general
    sibling of tiles_sink.sh_clip_pass_expr (axis-aligned bounds).

    inside(P) = (bx−ax)·(P.y−ay) − (by−ay)·(P.x−ax) ≥ 0; on a crossing
    edge t = f(s)/(f(s)−f(e)) (denominator nonzero exactly when the
    inside tests differ, so the division stays under the crossing
    branch), intersection = s + t·(e−s).  Emission table, let-binding,
    type-stable 2-slot arrays and the <3-vertex pass-through are
    identical to the axis-aligned pass.  ``ax``..``by`` are expression
    strings (column refs / element_at lookups), constant per pass.
    """
    rr, s, e, v_, _rot, struct_, zip_, let_, flt, ln, arr = _engine_ops(engine, tag, r)

    def f_of(p):
        return (
            f"((({bx}) - ({ax})) * ({p}.y - ({ay}))"
            f" - (({by}) - ({ay})) * ({p}.x - ({ax})))"
        )

    fs, fe = f_of(s), f_of(e)
    ins_s, ins_e = f"({fs} >= 0)", f"({fe} >= 0)"
    t = f"({fs} / ({fs} - {fe}))"
    inter = struct_(
        f"{s}.x + {t} * ({e}.x - {s}.x)",
        f"{s}.y + {t} * ({e}.y - {s}.y)",
    )
    body = arr(
        [
            f"case when {ins_s} != {ins_e} then {inter} else null end",
            f"case when {ins_e} then {e} else null end",
        ]
    )
    clipped = f"{flt}(flatten({zip_(body)}), {v_} -> {v_} is not null)"
    empty = f"{flt}({rr}, {v_} -> false)"
    return let_(f"case when {ln}({rr}) >= 3 then {clipped} else {empty} end")


def shoelace2_expr(r: str, engine: str, tag: str = "a") -> str:
    """TWICE the signed ring area as an expression string — the exact
    shoelace fold Σ (prev.x·cur.y − cur.x·prev.y) in index order,
    emitted identically for both engines (sum order fixed)."""
    rr, s, e, _v, _rot, _st, zip_, let_, _flt, _ln, _arr = _engine_ops(engine, tag, r)
    term = f"{s}.x * {e}.y - {e}.x * {s}.y"
    if engine == "spark":
        fold = f"aggregate({zip_(term)}, cast(0.0 as double), (acc{tag}, x{tag}) -> acc{tag} + x{tag})"
    else:
        fold = f"coalesce(list_sum({zip_(term)}), 0.0)"
    return let_(fold)


def ring_area_positive_expr(r: str, engine: str) -> str:
    """Zone guard: TRUE iff the ring has a nonzero interior
    (|shoelace| > 0).  A degenerate zone (all vertices coincident, or
    collinear) has no interior, but Sutherland–Hodgman half-planes
    built from coincident points are VACUOUS (cross = 0 keeps every
    vertex), so an unfiltered degenerate zone would "contain" every
    subject that reaches the clip chain — and then the bbox prefilter,
    a plan optimization, would decide row membership (found by the
    overlay fuzz: a collapsed 4-gon made the engines disagree on which
    segments a point-zone "contains").  The guard runs on the RAW ring
    on BOTH engines: reversal changes the shoelace summation order and
    can move the last ulp, so filtering pre-normalization is the only
    bit-identical form."""
    return f"abs({shoelace2_expr(r, engine, tag='zg')}) > 0"


def ccw_ring_expr(r: str, engine: str, tag: str = "n") -> str:
    """Orientation normalizer: reverse the ring when its signed shoelace
    area is negative (CW) — exact, since the sign test is on the same
    IEEE value both engines compute."""
    sh = shoelace2_expr(r, engine, tag=f"{tag}s")
    rev = f"reverse({r})" if engine == "spark" else f"list_reverse({r})"
    return f"case when {sh} < 0 then {rev} else {r} end"


def _edge_exprs(cring: str, clip_k: int, engine: str) -> list[tuple[str, str, str, str]]:
    """(ax, ay, bx, by) expression strings for each directed edge of a
    clip ring column holding exactly ``clip_k`` vertices (1-based
    indexing in both engines)."""
    out = []
    for i in range(1, clip_k + 1):
        j = 1 if i == clip_k else i + 1
        if engine == "spark":
            a, b = f"element_at({cring}, {i})", f"element_at({cring}, {j})"
        else:
            a, b = f"{cring}[{i}]", f"{cring}[{j}]"
        out.append((f"{a}.x", f"{a}.y", f"{b}.x", f"{b}.y"))
    return out


def _sh_chain(r: str, cring: str, clip_k: int, engine: str) -> str:
    """The S-H clip of ring ``r`` by zone ring ``cring``: one
    halfplane_pass_expr per directed zone edge, in edge order."""
    for i, (ax, ay, bx, by) in enumerate(_edge_exprs(cring, clip_k, engine), 1):
        r = halfplane_pass_expr(r, ax, ay, bx, by, engine, tag=f"o{i}")
    return r


def _bbox(ring: str, px: str) -> list:
    """Spark bbox columns ``_{px}x0, _{px}x1, _{px}y0, _{px}y1`` of a ring."""
    xs = F.transform(F.col(ring), lambda p: p["x"])
    ys = F.transform(F.col(ring), lambda p: p["y"])
    return [
        F.array_min(xs).alias(f"_{px}x0"),
        F.array_max(xs).alias(f"_{px}x1"),
        F.array_min(ys).alias(f"_{px}y0"),
        F.array_max(ys).alias(f"_{px}y1"),
    ]


def _zones(clip: DataFrame, cid: str, c_ring: str) -> DataFrame:
    """Zone prep, Spark side — every overlay path (convex, the general
    path's zones AND its fan triangles, the ``cell`` path) reaches its
    zones through here: drop degenerate zones by the raw-ring guard,
    then CCW-normalize.  Returns (cid, _cr, _cx0, _cx1, _cy0, _cy1)."""
    return clip.filter(F.expr(ring_area_positive_expr(c_ring, "spark"))).select(
        F.col(cid), F.expr(ccw_ring_expr(c_ring, "spark")).alias("_cr"), *_bbox(c_ring, "c")
    )


def _pairs(subj: DataFrame, zones: DataFrame, cell: int | None = None) -> DataFrame:
    """Candidate (subject, zone) pairs: the bbox columns ``_s*`` of
    ``subj`` overlap the ``_c*`` of ``zones`` (a plan optimization only:
    interior overlap implies bbox overlap).

    ``cell=None``: the zones broadcast into a nested-loop join whose
    condition is the bbox test — zero shuffle.  ``cell=int``: for a
    fact-sized zone layer that cannot broadcast, both sides cover their
    bbox with ``cell``-sized grid cells (map-side sequence explode) and
    meet in ONE shuffle equi-join on the (gx, gy) cell key (AQE splits
    dense-city skew cells).  Exactly-once with NO distinct-shuffle: a
    pair sharing k>1 cells keeps only the cell containing the
    (min-x, min-y) corner of the bbox INTERSECTION — that corner lies in
    both bboxes, hence in both covers (the crossing_segments_join
    NW-cell rule generalized to area pairs).  The grid key is a plain
    int pair — deliberately NOT the engine's packed tile id, whose
    12-bit row/col caps zoom at 12."""
    overlap = (
        (F.col("_sx0") <= F.col("_cx1"))
        & (F.col("_cx0") <= F.col("_sx1"))
        & (F.col("_sy0") <= F.col("_cy1"))
        & (F.col("_cy0") <= F.col("_sy1"))
    )
    if cell is None:
        return subj.crossJoin(F.broadcast(zones)).where(overlap)

    def g(c):
        return F.floor(c / F.lit(float(cell))).cast("long")

    def cover(df, px):
        return df.withColumn(
            "_gx", F.explode(F.sequence(g(F.col(f"_{px}x0")), g(F.col(f"_{px}x1"))))
        ).withColumn("_gy", F.explode(F.sequence(g(F.col(f"_{px}y0")), g(F.col(f"_{px}y1")))))

    nw = (F.col("_gx") == g(F.greatest("_sx0", "_cx0"))) & (
        F.col("_gy") == g(F.greatest("_sy0", "_cy0"))
    )
    return cover(subj, "s").join(cover(zones, "c"), ["_gx", "_gy"]).where(overlap & nw)


def _clipped(subject: DataFrame, clip: DataFrame, clip_k: int, sid: str, cid: str, s_ring: str,
             c_ring: str, extra: tuple = (), cell: int | None = None) -> DataFrame:
    """Pairs with the non-empty S-H clip ``_rc`` of the subject ring
    ``_sr`` by the zone ring; ``extra`` subject columns ride along."""
    subj = subject.select(F.col(sid), *extra, F.col(s_ring).alias("_sr"), *_bbox(s_ring, "s"))
    j = _pairs(subj, _zones(clip, cid, c_ring), cell)
    j = j.withColumn("_rc", F.expr(_sh_chain("_sr", "_cr", clip_k, "spark")))
    return j.filter(F.size(F.col("_rc")) >= 3)


def overlay_area(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
    quant: int = 3,
    cell: int | None = None,
) -> DataFrame:
    """Intersection area per (subject, zone) pair — see module docstring.

    Input: ``subject`` (sid, s_ring) with OPEN rings (first vertex not
    repeated), any simple orientation; ``clip`` (cid, c_ring) CONVEX
    open rings of exactly ``clip_k`` vertices, any orientation.
    Output: (sid, cid, inter_area) for pairs with positive area,
    inter_area floor-form quantized at 10^-quant (both engines emit the
    identical IEEE double, the quantization is the repo's output law).

    Scale: zones broadcast; subjects stream through one codegen stage.
    bbox prefilter culls the nested-loop early — only bbox-overlapping
    pairs pay the clip chain.  At 10^12 subjects the plan is unchanged:
    scan → broadcast NLJ (bbox) → clip chain → filter, no shuffle.

    ``cell``: the big-big strategy, for a zone layer that is ALSO
    fact-sized (parcel/building footprints at 10¹² scale) and cannot
    broadcast — grid-blocked shuffle join (see ``_pairs``).  The output
    is EXACTLY the broadcast strategy's; pick ``cell`` ≈ the median zone
    bbox so fan-out stays O(1) per row.
    """
    j = _clipped(subject, clip, clip_k, sid, cid, s_ring, c_ring, cell=cell)
    area = F.expr(f"abs({shoelace2_expr('_rc', 'spark')}) / 2")
    q = 10 ** int(quant)
    qarea = F.floor(area * F.lit(float(q)) + F.lit(0.5)) / F.lit(float(q))
    return j.select(sid, cid, qarea.alias("inter_area")).filter(F.col("inter_area") > 0)


def _bbox_sql(r: str, px: str) -> str:
    """DuckDB bbox select-list tail ``, … as {px}x0 … {px}y1`` of a ring."""
    return "".join(
        f", list_{m}(list_transform({r}, p -> p.{a})) as {px}{a}{i}"
        for a in "xy"
        for i, m in ((0, "min"), (1, "max"))
    )


def _zones_sql(clip_sql: str, cid: str) -> str:
    """Zone prep, DuckDB side (the twin of ``_zones``): ``clip_sql``
    yields (cid, cr).  The guard filters the raw ring in the INNER
    subquery, whose only ring column is the input's ``cr``; the CCW
    ring is aliased one level up, so the guard can never bind to it."""
    return (
        f"select {cid}, {ccw_ring_expr('cr', 'duckdb')} as cr from "
        f"(select {cid}, cr from ({clip_sql}) "
        f"where {ring_area_positive_expr('cr', 'duckdb')})"
    )


def _pairs_sql(
    subj_sql: str, clip_sql: str, sid: str, cid: str, cols: list[str], prefilter: bool = False
) -> str:
    """WITH-prefix ending in CTE ``pairs`` = (sid, *cols, cid, cr): each
    subject row beside each prepped zone.  ``prefilter`` adds bbox
    columns (subject ring ``r``) and the bbox-overlap WHERE."""
    subj, zones, where = subj_sql, _zones_sql(clip_sql, cid), ""
    if prefilter:
        subj = f"select *{_bbox_sql('r', 's')} from ({subj_sql})"
        zones = f"select *{_bbox_sql('cr', 'c')} from ({zones})"
        where = (
            "where s.sx0 <= c.cx1 and c.cx0 <= s.sx1"
            " and s.sy0 <= c.cy1 and c.cy0 <= s.sy1"
        )
    s_cols = "".join(f", s.{c}" for c in cols)
    return f"""
      with subj as materialized ({subj}),
      clipn as materialized ({zones}),
      pairs as (select s.{sid}{s_cols}, c.{cid}, c.cr from subj s, clipn c {where})"""


def overlay_area_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    quant: int = 3,
    prefilter: bool = False,
) -> str:
    """DuckDB twin of overlay_area.  ``subject_sql`` yields (sid, r) and
    ``clip_sql`` yields (cid, cr) as list<struct{x,y}> double columns —
    the same passes/folds emitted for the duckdb engine, full cross join
    (the bbox prefilter is a plan optimization, not a semantic one:
    interior overlap implies bbox overlap, so ``prefilter=True`` never
    drops a positive-area pair — use it when BOTH sides are fact-sized
    and the bare cross join would be millions of clip chains)."""
    q = float(10 ** int(quant))
    return _pairs_sql(subject_sql, clip_sql, sid, cid, ["r"], prefilter) + f""",
      clipped as (select {sid}, {cid}, {_sh_chain('r', 'cr', clip_k, 'duckdb')} as rc
                  from pairs),
      ar as (select {sid}, {cid},
                    floor(abs({shoelace2_expr('rc', 'duckdb')}) / 2 * {q!r} + 0.5)
                      / {q!r} as inter_area
             from clipped where len(rc) >= 3)
      select {sid}, {cid}, inter_area from ar where inter_area > 0
    """


def areal_interpolate(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    value_col: str,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
) -> DataFrame:
    """Areal-weighted interpolation — transfer a subject-level quantity
    onto zones by intersection share (the census/population
    reaggregation standard): each subject contributes
    value · area(subject ∩ zone) / area(subject) to every zone it
    touches.

    Determinism at the aggregate: the per-pair weighted value is
    floor-quantized to integer MICRO-UNITS and summed as bigints (the
    CLAUDE.md integer micro-nat law) — the zone sums are order-free and
    exact, so re-partitioning can never flip a hash.  share and area
    are transcendental-free IEEE-identical doubles (see overlay_area).

    Output: (cid, n_parts, value_micro_sum) — n_parts the number of
    contributing subjects, value_micro_sum the zone total in 1e-6
    units (caller divides for display).  Zero-area subjects are
    excluded (no defined share).  Same broadcast/zero-shuffle plan as
    overlay_area plus ONE aggregation shuffle keyed by zone.
    """
    val = F.col(value_col).cast("double").alias("_val")
    j = _clipped(subject, clip, clip_k, sid, cid, s_ring, c_ring, extra=(val,))
    ia = F.expr(f"abs({shoelace2_expr('_rc', 'spark')}) / 2")
    sa = F.expr(f"abs({shoelace2_expr('_sr', 'spark', tag='b')}) / 2")
    return _value_totals(j.select(cid, "_val", ia.alias("_ia"), sa.alias("_sa")), cid, "_ia")


def _value_totals(pairs: DataFrame, cid: str, ia: str) -> DataFrame:
    """Close an areal interpolation: per pair, value · ia / area(subject)
    (columns ``_val``, ``ia``, ``_sa``) floor-quantized to integer
    micro-units, summed per zone.  Pairs without a positive ``ia`` or
    subject area have no defined share."""
    micro = F.floor(F.col("_val") * (F.col(ia) / F.col("_sa")) * F.lit(1e6) + F.lit(0.5))
    return (
        pairs.filter((F.col(ia) > 0) & (F.col("_sa") > 0))
        .groupBy(cid)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(micro.cast("bigint")).alias("value_micro_sum"),
        )
    )


def areal_interpolate_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
) -> str:
    """DuckDB twin of areal_interpolate — ``subject_sql`` yields
    (sid, val, r); identical pass/fold/quantize op order."""
    return _pairs_sql(subject_sql, clip_sql, sid, cid, ["val", "r"]) + f""",
      clipped as (select {sid}, {cid}, val, r,
                         {_sh_chain('r', 'cr', clip_k, 'duckdb')} as rc from pairs),
      ar as (select {sid}, {cid}, val,
                    abs({shoelace2_expr('rc', 'duckdb')}) / 2 as ia,
                    abs({shoelace2_expr('r', 'duckdb', tag='b')}) / 2 as sa
             from clipped where len(rc) >= 3)""" + _value_totals_sql("ar", cid, "ia")


def _value_totals_sql(rel: str, cid: str, ia: str) -> str:
    """DuckDB twin of ``_value_totals`` over ``rel`` (cid, val, ia, sa)."""
    return f"""
      select {cid}, cast(count(*) as bigint) as n_parts,
             cast(sum(cast(floor(val * ({ia} / sa) * 1e6 + 0.5) as bigint)) as bigint)
               as value_micro_sum
      from {rel} where {ia} > 0 and sa > 0 group by {cid}
    """


def _cyrus_beck_len_expr(
    x1: str,
    y1: str,
    x2: str,
    y2: str,
    edges: list[tuple[str, str, str, str]],
    engine: str,
    quant: int,
) -> str:
    """Cyrus–Beck parametric clip of the segment (x1,y1)→(x2,y2) against
    the convex CCW polygon given by directed ``edges``, returning ONE
    expression for the quantized inside-length (identical text for both
    engines: only +,−,×, one guarded division per edge, greatest/least,
    CASE, a final sqrt).

    Per edge with f(P) = cross(B−A, P−A) (≥0 inside): f increasing
    along the segment ⇒ entering at t* = f₀/(f₀−f₁) ⇒ t0 = max(t0,t*);
    decreasing ⇒ exiting ⇒ t1 = min(t1,t*); constant-outside ⇒ t0 = 2
    (rejects, since t0>t1).  The division only evaluates under the
    f₀≠f₁ branches.

    The (t0, t1) state threads through the chain as a per-edge
    LET-BOUND struct (each state referenced exactly once by the next),
    so the expression is LINEAR in the edge count — the naive chained
    form doubles per edge and its 4-edge final length expression
    (t0/t1 each referenced twice, then collapsed into the filter too)
    measured ~45 s/94k pairs interpreted vs ~4 s let-bound.
    """

    def let_(prev: str, var: str, body: str) -> str:
        if engine == "spark":
            return f"element_at(transform(array({prev}), {var} -> {body}), 1)"
        return f"(list_transform([{prev}], {var} -> {body}))[1]"

    def struct_(t0: str, t1: str) -> str:
        if engine == "spark":
            return f"named_struct('t0', {t0}, 't1', {t1})"
        return f"{{'t0': {t0}, 't1': {t1}}}"

    state = struct_("cast(0.0 as double)", "cast(1.0 as double)")
    for i, (ax, ay, bx, by) in enumerate(edges, 1):

        def f_of(px, py):
            return (
                f"((({bx}) - ({ax})) * (({py}) - ({ay}))"
                f" - (({by}) - ({ay})) * (({px}) - ({ax})))"
            )

        st = f"st{i}"
        f0, f1 = f_of(x1, y1), f_of(x2, y2)
        ts = f"({f0} / ({f0} - {f1}))"
        t0 = (
            f"(case when {f0} = {f1} then (case when {f0} < 0 then cast(2.0 as double) "
            f"else {st}.t0 end) when {f0} < {f1} then greatest({st}.t0, {ts}) "
            f"else {st}.t0 end)"
        )
        t1 = f"(case when {f0} > {f1} then least({st}.t1, {ts}) else {st}.t1 end)"
        state = let_(state, st, struct_(t0, t1))
    seglen = (
        f"sqrt((({x2}) - ({x1})) * (({x2}) - ({x1}))"
        f" + (({y2}) - ({y1})) * (({y2}) - ({y1})))"
    )
    q = float(10 ** int(quant))
    body = (
        f"case when stf.t1 > stf.t0 then "
        f"floor((stf.t1 - stf.t0) * {seglen} * {q!r} + 0.5) / {q!r} "
        f"else cast(0.0 as double) end"
    )
    return let_(state, "stf", body)


def zone_line_length(
    segs: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Length of each segment INSIDE each convex zone — the line-layer
    sibling of overlay_area (road-km per district, trajectory-meters per
    geofence).  Cyrus–Beck parametric clipping: the clipped parameter
    window [t0, t1] falls out of one chained scalar expression per zone
    edge; length = (t1−t0)·‖seg‖.

    Input: ``segs`` (sid, x1, y1, x2, y2); ``clip`` (cid, c_ring) as in
    overlay_area.  Output: (sid, cid, len_in) per pair with positive
    inside-length, floor-form quantized at 10^-quant.  sqrt is IEEE-
    correctly-rounded everywhere (CLAUDE.md), everything else is ±/×
    with one guarded division per edge — bit-identical cross-engine.

    Scale: zones broadcast; segments stream through one codegen stage
    (bbox prefilter in the NLJ condition, then the t-window chain) —
    zero shuffle, zero Python, same 10¹²-row shape as overlay_area.
    """
    s_pre = segs.select(
        F.col(sid), *[F.col(c).cast("double").alias(f"_{c}") for c in ("x1", "y1", "x2", "y2")]
    ).select(
        "*",
        F.least("_x1", "_x2").alias("_sx0"),
        F.greatest("_x1", "_x2").alias("_sx1"),
        F.least("_y1", "_y2").alias("_sy0"),
        F.greatest("_y1", "_y2").alias("_sy1"),
    )
    j = _pairs(s_pre, _zones(clip, cid, c_ring))
    len_expr = _cyrus_beck_len_expr(
        "_x1", "_y1", "_x2", "_y2", _edge_exprs("_cr", clip_k, "spark"), "spark", quant
    )
    return (
        j.withColumn("_len", F.expr(len_expr))
        .filter(F.col("_len") > 0)
        .select(sid, cid, F.col("_len").alias("len_in"))
    )


def zone_line_length_sql(
    segs_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    quant: int = 3,
) -> str:
    """DuckDB twin of zone_line_length — ``segs_sql`` yields
    (sid, x1, y1, x2, y2 as doubles), ``clip_sql`` yields (cid, cr)."""
    len_expr = _cyrus_beck_len_expr(
        "x1", "y1", "x2", "y2", _edge_exprs("cr", clip_k, "duckdb"), "duckdb", quant
    )
    return _pairs_sql(segs_sql, clip_sql, sid, cid, ["x1", "y1", "x2", "y2"]) + f""",
      lens as (select {sid}, {cid}, {len_expr} as len_in from pairs)
      select {sid}, {cid}, len_in from lens where len_in > 0
    """


def _general(measure, subj: DataFrame, clip: DataFrame, clip_k: int, sid: str, cid: str,
             c_ring: str, val_col: str, quant: int, **kw) -> DataFrame:
    """Signed fan decomposition, Spark side: the prepped zone ring
    fan-explodes into its (k−2) triangles with orientation signs
    (degenerate zero-area triangles dropped — they contribute nothing),
    ``measure`` (a convex op) runs on the triangles keyed 'cid#tix',
    and the per-triangle results close as a signed sum of integer
    micro-units (floor-form, NOT a bare cast — Spark's double→bigint
    cast truncates where DuckDB's rounds half-even), keeping positive
    totals, re-emitted at 10^-quant.  CCW first: a CW input would flip
    every fan sign and the signed totals would come out negative."""
    cr = F.col("_cr")
    tris = [
        F.struct(
            F.lit(i - 1).alias("tix"),
            F.array(F.element_at(cr, 1), F.element_at(cr, i), F.element_at(cr, i + 1)).alias(
                "tri"
            ),
        )
        for i in range(2, clip_k)
    ]
    sgn2 = shoelace2_expr("_tri", "spark", tag="g")
    fan = (
        _zones(clip, cid, c_ring)
        .select(F.col(cid), F.explode(F.array(*tris)).alias("_t"))
        .select(cid, F.col("_t.tix").alias("_tix"), F.col("_t.tri").alias("_tri"))
        .withColumn(
            "_sgn",
            F.expr(f"case when {sgn2} > 0 then 1 when {sgn2} < 0 then -1 else 0 end").cast("long"),
        )
        .filter(F.col("_sgn") != 0)
        .withColumn(
            "_tkey", F.concat_ws("#", F.col(cid).cast("string"), F.col("_tix").cast("string"))
        )
    )
    pairs = measure(
        subj, fan.select("_tkey", F.col("_tri").alias(c_ring)), clip_k=3, sid=sid,
        cid="_tkey", c_ring=c_ring, quant=quant, **kw,
    )
    q = float(10 ** int(quant))
    micro = F.floor(F.col(val_col) * F.lit(q) + F.lit(0.5)).cast("bigint") * F.col("_sgn")
    return (
        pairs.join(F.broadcast(fan.select("_tkey", cid, "_sgn")), "_tkey")
        .groupBy(sid, cid)
        .agg(F.sum(micro).alias("_m"))
        .filter(F.col("_m") > 0)
        .select(sid, cid, (F.col("_m").cast("double") / F.lit(q)).alias(val_col))
    )


def _general_sql(measure_sql, subj_sql: str, clip_sql: str, clip_k: int, sid: str, cid: str,
                 val_col: str, quant: int) -> str:
    """DuckDB twin of ``_general``: the same fan explode and signs over
    the prepped zones, ``measure_sql`` on the triangle relation, and the
    signed micro-unit sum."""
    q = float(10 ** int(quant))
    sgn2 = shoelace2_expr("tri", "duckdb", tag="g")
    tri_rel = f"""
      with clipg as materialized ({_zones_sql(clip_sql, cid)}),
      fan as (select {cid}, i - 1 as tix, [cr[1], cr[i], cr[i + 1]] as tri
              from clipg, unnest(generate_series(2, {int(clip_k)} - 1)) as u(i)),
      sgn as (select {cid}, tix, tri,
                     case when {sgn2} > 0 then 1 when {sgn2} < 0 then -1
                          else 0 end as sgn
              from fan)
      select concat(cast({cid} as varchar), '#', cast(tix as varchar)) as cid,
             tri as cr, {cid} as zone_id, sgn
      from sgn where sgn <> 0
    """
    pair_sql = measure_sql(
        subj_sql, f"select cid, cr from ({tri_rel})", clip_k=3, sid=sid, cid="cid", quant=quant
    )
    micro = f"cast(floor(p.{val_col} * {q!r} + 0.5) as bigint) * t.sgn"
    return f"""
      with tk as materialized ({tri_rel}),
      pr as materialized ({pair_sql})
      select p.{sid}, t.zone_id as {cid},
             cast(sum({micro}) as double) / {q!r} as {val_col}
      from pr p join tk t on p.cid = t.cid
      group by p.{sid}, t.zone_id
      having sum({micro}) > 0
    """


def overlay_area_general(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Intersection area where zones may be ARBITRARY SIMPLE polygons
    (non-convex) — the convexity contract of overlay_area lifted by
    signed fan triangulation: for a simple polygon P with vertices
    v1..vk, the indicator decomposes a.e. as 1_P = Σ σ_i·1_{T_i} over
    the fan triangles T_i = (v1, v_i, v_{i+1}) with σ_i the triangle's
    orientation sign (the shoelace decomposition).  Hence
    area(S ∩ P) = Σ σ_i · area(S ∩ T_i), and each T_i is CONVEX — a
    3-edge job for the existing clip chain.

    Zones explode into (k−2) triangle rows map-side BEFORE the
    broadcast (zones are dimension-sized; the fact side still streams
    once through one codegen stage).  Per-triangle quantized areas are
    summed SIGNED as integer micro-areas (bigint, order-free — the
    micro-unit law), so the result is partitioning-independent and
    engine-exact; output re-emitted at 10^-quant.

    Note the output magnitude matches overlay_area on convex zones up
    to per-triangle quantization (≤ (k−2)·10^-quant) — the general
    form is its own oracle-pinned contract, not a bit-twin of the
    convex path.  ``clip_k`` is the EXACT zone vertex count, as before.
    """
    return _general(
        overlay_area, subject, clip, clip_k, sid, cid, c_ring, "inter_area", quant, s_ring=s_ring
    )


def overlay_area_general_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
    quant: int = 3,
) -> str:
    """DuckDB twin of overlay_area_general: the same fan explode, sign,
    3-edge clip chain (via overlay_area_sql on the triangle relation),
    and signed micro-area sum."""
    return _general_sql(overlay_area_sql, subject_sql, clip_sql, clip_k, sid, cid, "inter_area", quant)


def zone_line_length_general(
    segs: DataFrame,
    clip: DataFrame,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    c_ring: str = "cring",
    quant: int = 3,
) -> DataFrame:
    """Per-zone line clip length for ARBITRARY simple (non-convex) zones
    — the signed fan decomposition again: length is a measure, so
    len(S ∩ P) = Σ σ_i · len(S ∩ T_i) over the CCW fan triangles
    exactly as in overlay_area_general; each term is a convex 3-edge
    Cyrus–Beck job.  Per-triangle micro-lengths sum SIGNED as bigints.

    A segment sliding along a reflex notch boundary contributes ±
    lengths that cancel to its true inside-length; the sum can only be
    positive when some part of the segment is interior.  Output:
    (sid, cid, len_in) for pairs with positive inside-length at
    10^-quant.
    """
    return _general(zone_line_length, segs, clip, clip_k, sid, cid, c_ring, "len_in", quant)


def zone_line_length_general_sql(
    segs_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "seg_id",
    cid: str = "cid",
    quant: int = 3,
) -> str:
    """DuckDB twin of zone_line_length_general — the same fan/sign CTEs
    as overlay_area_general_sql over the Cyrus–Beck pair lengths."""
    return _general_sql(zone_line_length_sql, segs_sql, clip_sql, clip_k, sid, cid, "len_in", quant)



def areal_interpolate_general(
    subject: DataFrame,
    clip: DataFrame,
    clip_k: int,
    value_col: str,
    sid: str = "sid",
    cid: str = "cid",
    s_ring: str = "ring",
    c_ring: str = "cring",
) -> DataFrame:
    """Areal-weighted interpolation onto ARBITRARY simple zones — the
    general sibling of areal_interpolate, built on
    overlay_area_general's signed intersection areas: contribution =
    value · (signed micro-area sum) / area(subject), quantized to
    integer micro-units per (subject, zone) pair and summed as bigints
    per zone.  Output: (cid, n_parts, value_micro_sum), n_parts the
    number of positively-contributing subjects.
    """
    inter = overlay_area_general(
        subject, clip, clip_k, sid=sid, cid=cid, s_ring=s_ring, c_ring=c_ring
    )
    sa2 = shoelace2_expr(s_ring, "spark", tag="ai")
    sv = subject.select(
        F.col(sid),
        F.col(value_col).cast("double").alias("_val"),
        F.expr(f"abs({sa2}) / 2").alias("_sa"),
    )
    return _value_totals(inter.join(sv, sid), cid, "inter_area")


def areal_interpolate_general_sql(
    subject_sql: str,
    clip_sql: str,
    clip_k: int,
    sid: str = "sid",
    cid: str = "cid",
) -> str:
    """DuckDB twin of areal_interpolate_general — ``subject_sql`` yields
    (sid, val, r); composes the general-overlay oracle verbatim."""
    inner = overlay_area_general_sql(
        f"select {sid}, r from subj0", clip_sql, clip_k, sid=sid, cid=cid
    )
    sa2 = shoelace2_expr("r", "duckdb", tag="ai")
    return f"""
      with subj0 as materialized ({subject_sql}),
      inter as materialized ({inner}),
      sv as (select {sid}, val, abs({sa2}) / 2 as sa from subj0)""" + _value_totals_sql(
        f"inter join sv using ({sid})", cid, "inter_area"
    )
