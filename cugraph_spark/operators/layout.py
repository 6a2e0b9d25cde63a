"""Force Atlas 2 graph layout.

Reference parity: ``layout/force_atlas2.py:18-168`` (``force_atlas2(G,
max_iter, pos_list, outbound_attraction_distribution, lin_log_mode,
prevent_overlapping, edge_weight_influence, jitter_tolerance,
barnes_hut_optimize, barnes_hut_theta, scaling_ratio,
strong_gravity_mode, gravity, verbose, callback) → DF[vertex, x, y]``).
The CUDA engine runs the FA2 force model (Jacomy et al. 2014, PLoS ONE
9(6)) with a Barnes-Hut quadtree; a Spark-first layout replaces the
quadtree with a FLAT GRID whose far field collapses to driver-side
numpy over cell aggregates, so no superstep ever materializes more than
O(V·ring²) rows:

- **attraction** (lin mode, the default): the FA2 lin force on ``u`` is
  ``Σ_v w·(pos_v − pos_u)`` — LINEAR in the neighbor positions, so it
  separates into the engine's standard one-shuffle gather
  ``(Σ w·pos_v) − pos_u·(Σ w)`` (same plan shape as the PageRank SpMV).
  lin-log mode has a ``log(1+d)/d`` per-edge factor that does not
  separate; it takes the explicit two-endpoint edge join instead.
- **repulsion**: vertices are binned into an ``n_bins×n_bins`` grid
  refitted to each iteration's bounding box (observe-fused, see below).
  Cells within Chebyshev distance ``ring`` interact EXACTLY via an
  explode-on-offsets equi-join (each vertex meets only its ≤(2r+1)²
  neighboring cells' occupants); all farther cells act through a
  per-cell mean field computed DRIVER-SIDE from the collected cell
  aggregates (≤ n_bins² ≤ 4096 rows — numpy over cell pairs, then a
  broadcast join back).  ``barnes_hut_theta`` maps to the ring radius
  (``ring = ceil(0.5/θ)``): the far-field error is O(cell/dist) ≤ θ,
  the same opening-angle contract as the reference quadtree.
- **adaptive speed**: Gephi's global swing/traction scheme; the two
  global sums ride the SAME job that materializes the force frame via
  ``DataFrame.observe`` (pagerank.py's observe-fusion idiom), and the
  next iteration's bounding box rides the job that materializes the
  displaced positions — the only extra per-iteration job is the
  ≤4096-row cell-aggregate collect.

Scale notes: 2 truncate_state materializations + 1 small collect per
iteration; every V-row join is hash-partitioned on the vertex id; the
only data-dependent blowup is near-field cell occupancy, controlled by
refitting ``n_bins`` to hold mean occupancy near ``target_occupancy``
each iteration.  The exact (``barnes_hut_optimize=False``) path is a
documented O(V²) cross join and refuses V > 20_000, mirroring the
reference note that exact mode "is slower and should only be used for
small graphs".

``prevent_overlapping`` raises (the reference raises "Feature not
supported" too, force_atlas2.py:142-143).

Determinism: positions are seeded from the same multiplicative hash as
spectral.py/vector.py; given a fixed partitioning the layout is
reproducible to float summation order (pytest pins it with allclose).
``attraction_at_hash_init`` is the driver-oracle surface: the lin
attraction gather evaluated at INTEGER hash positions over EXTERNAL
vertex ids — every sum is exact int64 arithmetic, so DuckDB mirrors it
bit-for-bit regardless of aggregation order.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, LinkGraph, static_plan, truncate_state
from .spectral import _HA, _HB, _HP, _hash_unit, _sym_weighted

_KS = 0.1  # Gephi's local speed constant
_EXACT_MAX_V = 20_000


def _grid_keys(xmin: float, xmax: float, ymin: float, ymax: float, n_bins: int):
    """(cx, cy) column expressions for the current bounding box."""
    sx = max((xmax - xmin) / n_bins, 1e-9)
    sy = max((ymax - ymin) / n_bins, 1e-9)
    cx = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("x") - F.lit(xmin)) / F.lit(sx))),
    ).cast("int")
    cy = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("y") - F.lit(ymin)) / F.lit(sy))),
    ).cast("int")
    return cx, cy


def _pair_repulsion(left: DataFrame, right: DataFrame, k_r: float) -> DataFrame:
    """Σ exact pairwise FA2 repulsion on ``left`` rows from ``right`` rows
    already co-located on the join key ``_jk`` (force = k_r·m_u·m_v·Δ/d²,
    Δ = pos_u − pos_v).  Coincident points repel along a deterministic
    hash direction so stacked vertices separate instead of sticking."""
    d2 = (F.col("x") - F.col("x2")) ** 2 + (F.col("y") - F.col("y2")) ** 2
    mag = F.lit(k_r) * F.col("m") * F.col("m2") / F.greatest(d2, F.lit(1e-18))
    jitter = _hash_unit(F.col(VID) + F.col("v2"), 3)
    fx = F.when(d2 > 0, (F.col("x") - F.col("x2")) * mag).otherwise(
        F.col("m") * F.col("m2") * jitter
    )
    fy = F.when(d2 > 0, (F.col("y") - F.col("y2")) * mag).otherwise(
        F.col("m") * F.col("m2") * _hash_unit(F.col(VID) + F.col("v2"), 4)
    )
    return (
        left.join(right, "_jk")
        .filter(F.col(VID) != F.col("v2"))
        .groupBy(VID)
        .agg(F.sum(fx).alias("rx"), F.sum(fy).alias("ry"))
    )


def force_atlas2(
    graph: LinkGraph,
    max_iter: int = 500,
    pos_list: DataFrame | None = None,
    outbound_attraction_distribution: bool = True,
    lin_log_mode: bool = False,
    prevent_overlapping: bool = False,
    edge_weight_influence: float = 1.0,
    jitter_tolerance: float = 1.0,
    barnes_hut_optimize: bool = True,
    barnes_hut_theta: float = 0.5,
    scaling_ratio: float = 2.0,
    strong_gravity_mode: bool = False,
    gravity: float = 1.0,
    verbose: bool = False,
    callback=None,
    target_occupancy: int = 64,
) -> DataFrame:
    """DF[vertex, x, y] — reference ``force_atlas2`` semantics over the
    grid-binned force model described in the module docstring.

    ``callback`` duck-types the reference ``GraphBasedDimRedCallback``:
    ``on_preprocess_end`` / ``on_epoch_end`` / ``on_train_end`` are each
    called (when present) with a pandas frame [vertex, x, y] — a V-row
    driver collect per epoch, strictly opt-in.
    """
    if prevent_overlapping:
        raise NotImplementedError(
            "prevent_overlapping is not supported (reference "
            "force_atlas2.py:142-143 raises 'Feature not supported' too)"
        )
    spark = graph.spark
    n_part = graph.num_partitions
    ring = max(1, int(math.ceil(0.5 / max(barnes_hut_theta, 1e-3))))

    both = _sym_weighted(graph).repartition(n_part, SRC).persist()
    both.count()
    # FA2 mass = degree + 1 (unweighted neighbor count)
    deg = both.groupBy(F.col(SRC).alias(VID)).agg(F.count("*").alias("_d"))
    base = (
        graph.vertices()
        .join(deg, VID, "left")
        .select(VID, (F.coalesce(F.col("_d"), F.lit(0)) + F.lit(1.0)).alias("m"))
    )
    n_v = graph.number_of_vertices()

    if pos_list is not None:
        p = pos_list.select(F.col("vertex").alias("_ext_v"), "x", "y")
        if graph.renumber_map is not None:
            from ..graph import EXT

            m = graph.renumber_map.select(
                F.col(EXT).alias("_ext_v"), F.col(VID).alias("_v")
            )
            m = F.broadcast(m) if graph._map_small() else m
            p = p.join(m, "_ext_v").select(F.col("_v").alias(VID), "x", "y")
        else:
            p = p.select(F.col("_ext_v").alias(VID), "x", "y")
        init = base.join(p, VID, "left").select(
            VID,
            "m",
            F.coalesce(F.col("x"), _hash_unit(F.col(VID), 0) * 2000.0).alias("x"),
            F.coalesce(F.col("y"), _hash_unit(F.col(VID), 1) * 2000.0).alias("y"),
        )
    else:
        init = base.select(
            VID,
            "m",
            (_hash_unit(F.col(VID), 0) * 2000.0).alias("x"),
            (_hash_unit(F.col(VID), 1) * 2000.0).alias("y"),
        )
    state = truncate_state(
        init.select(
            VID, "m", "x", "y", F.lit(0.0).alias("pfx"), F.lit(0.0).alias("pfy")
        ),
        n_part,
        VID,
    )
    row = state.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.avg("m")
    ).collect()[0]
    xmin, xmax, ymin, ymax, mean_mass = (float(v) for v in row)
    # outbound compensation: Gephi divides the per-edge force by the mass of
    # the endpoint it applies to and scales by the mean mass so the total
    # attraction budget is unchanged ("hubs attract less").
    att_comp = mean_mass if outbound_attraction_distribution else 1.0
    wf = (
        F.lit(1.0)
        if edge_weight_influence == 0
        else F.col("w") ** F.lit(float(edge_weight_influence))
    )

    def _emit(hook: str):
        if callback is not None and hasattr(callback, hook):
            out = state.select(VID, "x", "y")
            out = graph.unrenumber(out.withColumnRenamed(VID, "vertex"), "vertex")
            getattr(callback, hook)(out.toPandas())

    _emit("on_preprocess_end")
    speed, speed_eff = 1.0, 1.0
    if not barnes_hut_optimize and n_v > _EXACT_MAX_V:
        raise ValueError(
            f"exact repulsion is O(V^2); refusing V={n_v} > {_EXACT_MAX_V} "
            "(set barnes_hut_optimize=True for the grid far-field path)"
        )
    with static_plan(spark):
        for it in range(max_iter):
            n_bins = max(4, min(64, int(math.sqrt(max(n_v, 1) / target_occupancy)) + 1))
            cx, cy = _grid_keys(xmin, xmax, ymin, ymax, n_bins)
            binned = state.withColumn("cx", cx).withColumn("cy", cy)

            if barnes_hut_optimize:
                cells = (
                    binned.groupBy("cx", "cy")
                    .agg(
                        F.sum("m").alias("M"),
                        F.sum(F.col("m") * F.col("x")).alias("Mx"),
                        F.sum(F.col("m") * F.col("y")).alias("My"),
                    )
                    .collect()
                )
                # driver-side far field: every cell pair beyond the exact
                # ring interacts centroid-to-centroid (≤ n_bins² rows)
                carr = np.array(
                    [[c["cx"], c["cy"], c["M"], c["Mx"], c["My"]] for c in cells]
                )
                ctr = carr[:, 3:5] / carr[:, 2:3]
                far_fx = np.zeros(len(carr))
                far_fy = np.zeros(len(carr))
                for i in range(len(carr)):
                    cheb = np.maximum(
                        np.abs(carr[:, 0] - carr[i, 0]),
                        np.abs(carr[:, 1] - carr[i, 1]),
                    )
                    far = cheb > ring
                    if not far.any():
                        continue
                    dx = ctr[i, 0] - ctr[far, 0]
                    dy = ctr[i, 1] - ctr[far, 1]
                    d2 = np.maximum(dx * dx + dy * dy, 1e-18)
                    s = scaling_ratio * carr[far, 2] / d2
                    far_fx[i] = float(np.sum(s * dx))
                    far_fy[i] = float(np.sum(s * dy))
                field = spark.createDataFrame(
                    [
                        (int(carr[i, 0]), int(carr[i, 1]), float(far_fx[i]), float(far_fy[i]))
                        for i in range(len(carr))
                    ],
                    "cx int, cy int, ffx double, ffy double",
                )
                offs = [
                    (ox, oy)
                    for ox in range(-ring, ring + 1)
                    for oy in range(-ring, ring + 1)
                ]
                left = binned.select(
                    VID,
                    "m",
                    "x",
                    "y",
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    (F.col("cx") + F.lit(ox)).alias("kx"),
                                    (F.col("cy") + F.lit(oy)).alias("ky"),
                                )
                                for ox, oy in offs
                            ]
                        )
                    ).alias("_o"),
                ).select(
                    VID,
                    "m",
                    "x",
                    "y",
                    F.concat_ws("_", F.col("_o.kx"), F.col("_o.ky")).alias("_jk"),
                )
                right = binned.select(
                    F.col(VID).alias("v2"),
                    F.col("m").alias("m2"),
                    F.col("x").alias("x2"),
                    F.col("y").alias("y2"),
                    F.concat_ws("_", "cx", "cy").alias("_jk"),
                )
                rep = _pair_repulsion(left, right, scaling_ratio)
            else:
                left = binned.select(VID, "m", "x", "y", F.lit(1).alias("_jk"))
                right = binned.select(
                    F.col(VID).alias("v2"),
                    F.col("m").alias("m2"),
                    F.col("x").alias("x2"),
                    F.col("y").alias("y2"),
                    F.lit(1).alias("_jk"),
                )
                rep = _pair_repulsion(left, right, scaling_ratio)
                field = None

            if not lin_log_mode:
                # separable lin gather: one shuffle, PageRank plan shape
                attr = (
                    both.join(
                        binned.select(
                            F.col(VID).alias(SRC),
                            F.col("x").alias("x2"),
                            F.col("y").alias("y2"),
                        ).hint("shuffle_hash"),
                        SRC,
                    )
                    .groupBy(F.col(DST).alias(VID))
                    .agg(
                        F.sum(wf * F.col("x2")).alias("awx"),
                        F.sum(wf * F.col("y2")).alias("awy"),
                        F.sum(wf).alias("aw"),
                    )
                )
                ax = F.coalesce(F.col("awx"), F.lit(0.0)) - F.col("x") * F.coalesce(
                    F.col("aw"), F.lit(0.0)
                )
                ay = F.coalesce(F.col("awy"), F.lit(0.0)) - F.col("y") * F.coalesce(
                    F.col("aw"), F.lit(0.0)
                )
            else:
                # lin-log needs |Δ| per edge: explicit two-endpoint join
                e2 = (
                    both.join(
                        binned.select(
                            F.col(VID).alias(SRC),
                            F.col("x").alias("sx"),
                            F.col("y").alias("sy"),
                        ).hint("shuffle_hash"),
                        SRC,
                    )
                    .join(
                        binned.select(
                            F.col(VID).alias(DST),
                            F.col("x").alias("tx"),
                            F.col("y").alias("ty"),
                        ).hint("shuffle_hash"),
                        DST,
                    )
                )
                d = F.sqrt(
                    (F.col("tx") - F.col("sx")) ** 2 + (F.col("ty") - F.col("sy")) ** 2
                )
                fac = wf * F.log1p(d) / F.greatest(d, F.lit(1e-18))
                attr = e2.groupBy(F.col(SRC).alias(VID)).agg(
                    F.sum(fac * (F.col("tx") - F.col("sx"))).alias("ax0"),
                    F.sum(fac * (F.col("ty") - F.col("sy"))).alias("ay0"),
                )
                ax = F.coalesce(F.col("ax0"), F.lit(0.0))
                ay = F.coalesce(F.col("ay0"), F.lit(0.0))
            if outbound_attraction_distribution:
                ax, ay = ax * F.lit(att_comp) / F.col("m"), ay * F.lit(att_comp) / F.col("m")

            # gravity toward the origin
            gd = F.sqrt(F.col("x") ** 2 + F.col("y") ** 2)
            gfac = (
                F.lit(float(gravity)) * F.col("m")
                if strong_gravity_mode
                else F.lit(float(gravity)) * F.col("m") / F.greatest(gd, F.lit(1e-18))
            )
            frame = binned.join(attr, VID, "left").join(rep, VID, "left")
            if field is not None:
                frame = frame.join(F.broadcast(field), ["cx", "cy"], "left")
                rfx = F.coalesce(F.col("rx"), F.lit(0.0)) + F.col("m") * F.coalesce(
                    F.col("ffx"), F.lit(0.0)
                )
                rfy = F.coalesce(F.col("ry"), F.lit(0.0)) + F.col("m") * F.coalesce(
                    F.col("ffy"), F.lit(0.0)
                )
            else:
                rfx = F.coalesce(F.col("rx"), F.lit(0.0))
                rfy = F.coalesce(F.col("ry"), F.lit(0.0))
            fx = (ax + rfx - gfac * F.col("x")).alias("fx")
            fy = (ay + rfy - gfac * F.col("y")).alias("fy")
            forces = frame.select(VID, "m", "x", "y", "pfx", "pfy", fx, fy)
            swg = F.sqrt(
                (F.col("fx") - F.col("pfx")) ** 2 + (F.col("fy") - F.col("pfy")) ** 2
            ).alias("swg")
            forces = forces.select("*", swg)
            obs = Observation(f"fa2_iter_{it}")
            forces = forces.observe(
                obs,
                F.sum(F.col("m") * F.col("swg")).alias("gswg"),
                F.sum(
                    F.col("m")
                    * F.sqrt(
                        (F.col("fx") + F.col("pfx")) ** 2
                        + (F.col("fy") + F.col("pfy")) ** 2
                    )
                    / 2.0
                ).alias("gtra"),
            )
            forces = truncate_state(forces, n_part, VID)

            got = obs.get
            g_swg = max(float(got["gswg"] or 0.0), 1e-12)
            g_tra = max(float(got["gtra"] or 0.0), 1e-12)
            # Gephi's adaptive global speed (ForceAtlas2.java goAlgo)
            est_jt = 0.05 * math.sqrt(n_v)
            jt = jitter_tolerance * max(
                math.sqrt(est_jt),
                min(10.0, est_jt * g_tra / (n_v * n_v)),
            )
            if g_swg / g_tra > 2.0:
                if speed_eff > 0.05:
                    speed_eff *= 0.5
                jt = max(jt, jitter_tolerance)
            target = jt * speed_eff * g_tra / g_swg
            if g_swg > jt * g_tra:
                if speed_eff > 0.05:
                    speed_eff *= 0.7
            elif speed < 1000.0:
                speed_eff *= 1.3
            speed = speed + min(target - speed, 0.5 * speed)
            if verbose:
                print(
                    f"[fa2 iter {it}] speed={speed:.4f} swinging={g_swg:.3e} "
                    f"traction={g_tra:.3e}"
                )

            fct = F.lit(speed) / (
                F.lit(1.0) + F.sqrt(F.lit(speed) * F.col("swg"))
            )
            obs2 = Observation(f"fa2_bbox_{it}")
            new = forces.select(
                VID,
                "m",
                (F.col("x") + F.col("fx") * fct).alias("x"),
                (F.col("y") + F.col("fy") * fct).alias("y"),
                F.col("fx").alias("pfx"),
                F.col("fy").alias("pfy"),
            ).observe(
                obs2,
                F.min("x").alias("bx0"),
                F.max("x").alias("bx1"),
                F.min("y").alias("by0"),
                F.max("y").alias("by1"),
            )
            new = truncate_state(new, n_part, VID)
            forces.unpersist()
            state.unpersist()
            state = new
            b = obs2.get
            xmin, xmax, ymin, ymax = (
                float(b["bx0"]),
                float(b["bx1"]),
                float(b["by0"]),
                float(b["by1"]),
            )
            _emit("on_epoch_end")
    both.unpersist()
    _emit("on_train_end")
    out = state.select(F.col(VID).alias("vertex"), "x", "y")
    return graph.unrenumber(out, "vertex")


def attraction_at_hash_init(graph: LinkGraph) -> DataFrame:
    """DF[vertex, x0, y0, ax, ay] — the FA2 lin attraction gather evaluated
    at deterministic INTEGER hash positions over EXTERNAL vertex ids.

    This is the exact-arithmetic certification surface for the layout's
    attraction dataflow (symmetrize → dedup → gather → per-vertex sum):
    ``x0(v) = (48611·(v+7919) + 102953) mod 1000003`` (y0 swaps the two
    constants so it is not an additive shift of x0), and
    ``ax(u) = Σ_{v∈N(u)} (x0(v) − x0(u))`` — int64 sums are order-exact, so
    a SQL engine reproduces them bit-for-bit, unlike the float layout
    state.  Isolated vertices report zero force.
    """
    e = graph.view_edge_list().select(F.col(SRC).cast("long"), F.col(DST).cast("long"))
    und = (
        e.select(F.least(SRC, DST).alias("a"), F.greatest(SRC, DST).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )

    def x0(col):
        return F.pmod(F.lit(_HA) * (col + F.lit(7919)) + F.lit(_HB), F.lit(_HP))

    def y0(col):
        # different multiplier (_HB) so y is not an additive shift of x
        return F.pmod(F.lit(_HB) * (col + F.lit(7919)) + F.lit(_HA), F.lit(_HP))

    verts = graph.vertices()
    verts = (
        graph.unrenumber(verts.withColumnRenamed(VID, "vertex"), "vertex")
        if graph.renumber_map is not None
        else verts.withColumnRenamed(VID, "vertex")
    )
    verts = verts.select(F.col("vertex").cast("long"))
    gathered = sym.groupBy(F.col("u").alias("vertex")).agg(
        F.sum(x0(F.col("v"))).alias("sx"),
        F.sum(y0(F.col("v"))).alias("sy"),
        F.count("*").alias("nd"),
    )
    return verts.join(gathered, "vertex", "left").select(
        "vertex",
        x0(F.col("vertex")).alias("x0"),
        y0(F.col("vertex")).alias("y0"),
        (
            F.coalesce(F.col("sx"), F.lit(0))
            - F.coalesce(F.col("nd"), F.lit(0)) * x0(F.col("vertex"))
        ).alias("ax"),
        (
            F.coalesce(F.col("sy"), F.lit(0))
            - F.coalesce(F.col("nd"), F.lit(0)) * y0(F.col("vertex"))
        ).alias("ay"),
    )
