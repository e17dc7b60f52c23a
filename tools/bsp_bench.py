"""Wall time and superstep counts of the BSP kernels (graph/bsp.py)
where they are the dispatched tier.

Runs every BSP entry point on a synthetic random digraph (1M edges, or
400k with --quick) and a 4-neighbour grid (the high-diameter shape):
bsp_sssp on plain parquet and on a src-bucketed table (zero edge-side
Exchange per superstep), point-to-point with target pruning, Yen's K,
and one 64-source bsp_multi_sssp wave. Single-source distances are
asserted equal to the broadcast numpy kernel. The superstep count is
the BSP latency floor (one scheduled join round per frontier hop), so
each line prints it next to wall time. --grid-big runs only the
1,079,520-edge 520x520 grid, path-carrying and dist-only.

    python tools/bsp_bench.py [--quick | --grid-big]

Writes nothing; paste results into KERNEL_BENCH.md.
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from bigdata_foundation_spark.session import get_spark


def synth_pdf(n_nodes: int, deg: int, seed: int) -> pd.DataFrame:
    """Random digraph, ~log-diameter — the regime where BSP's
    whole-frontier relaxation converges in a handful of supersteps."""
    rng = np.random.default_rng(seed)
    m = n_nodes * deg
    src = rng.integers(0, n_nodes, m)
    dst = rng.integers(0, n_nodes, m)
    w = rng.uniform(1.0, 100.0, m)
    return pd.DataFrame(
        {
            "src": np.char.add("n", src.astype(str)),
            "dst": np.char.add("n", dst.astype(str)),
            "cost": w,
            "road_id": np.char.add("r", np.arange(m).astype(str)),
        }
    )


def grid_pdf(r: int, c: int, seed: int = 7) -> pd.DataFrame:
    """4-neighbour lattice — the high-diameter road-network shape. BSP
    needs ~diameter supersteps here; this row locates the floor."""
    rng = np.random.default_rng(seed)
    idx = np.arange(r * c).reshape(r, c)
    srcs, dsts = [], []
    a, b = idx[:, :-1].ravel(), idx[:, 1:].ravel()
    srcs += [a, b]
    dsts += [b, a]
    a, b = idx[:-1, :].ravel(), idx[1:, :].ravel()
    srcs += [a, b]
    dsts += [b, a]
    src = np.concatenate(srcs)
    dst = np.concatenate(dsts)
    w = rng.uniform(50.0, 150.0, len(src))
    return pd.DataFrame(
        {
            "src": np.char.add("n", src.astype(str)),
            "dst": np.char.add("n", dst.astype(str)),
            "cost": w,
            "road_id": np.char.add("r", np.arange(len(src)).astype(str)),
        }
    )


def main() -> int:
    quick = "--quick" in sys.argv
    grid_big = "--grid-big" in sys.argv
    spark = get_spark(app_name="bsp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    from bigdata_foundation_spark.graph import bsp as B
    from bigdata_foundation_spark.graph import kernel as K
    from bigdata_foundation_spark.io import write_bucketed

    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bsp_bench_")
    try:
        if grid_big:
            # How the per-superstep constant (~430 ms on a 100x100
            # grid) scales with edge volume on a >=1M-edge
            # high-diameter grid under src-bucketed edges (zero
            # edge-side Exchange per superstep — frontier-only
            # shuffling).
            r = c = 520  # 2*520*519*2 = 1,079,520 directed edges
            gpdf = grid_pdf(r, c)
            spark.createDataFrame(gpdf).write.mode("overwrite").parquet(f"{tmp}/gbig")
            groads = spark.read.parquet(f"{tmp}/gbig")
            gm = groads.count()
            write_bucketed(groads, "bsp_bench_gbig_bucketed", ["src"], n_buckets=32)
            try:
                broads = spark.table("bsp_bench_gbig_bucketed")
                gproj = K.Projection.from_columns(
                    gpdf["src"].to_numpy(dtype=object),
                    gpdf["dst"].to_numpy(dtype=object),
                    gpdf["cost"].to_numpy(dtype=np.float64),
                )
                goracle = K.sssp(gproj, "n0")
                stats_g: dict = {}
                t0 = time.perf_counter()
                gstate = B.bsp_sssp(spark, broads, "n0", stats=stats_g)
                ggot = {row["node"]: row["dist"] for row in gstate.select("node", "dist").collect()}
                t_grid = time.perf_counter() - t0
                gworst = max(abs(ggot[k] - goracle[k]) for k in goracle)
                assert gworst < 1e-9, gworst
                print(
                    f"bsp_sssp grid {r}x{c} BUCKETED ({gm:,} edges) {t_grid:7.1f}s  "
                    f"supersteps={stats_g['supersteps']:4d}  "
                    f"({1000 * t_grid / stats_g['supersteps']:.0f} ms/superstep; "
                    f"VERIFIED vs kernel, max |delta| {gworst:.1e})"
                )

                # dist-only state (carry_paths=False) — the fix for the
                # path-array checkpoint ceiling measured above.
                stats_l: dict = {}
                t0 = time.perf_counter()
                lstate = B.bsp_sssp(spark, broads, "n0", stats=stats_l, carry_paths=False)
                lgot = {row["node"]: row["dist"] for row in lstate.select("node", "dist").collect()}
                t_lean = time.perf_counter() - t0
                lworst = max(abs(lgot[k] - goracle[k]) for k in goracle)
                assert lworst < 1e-9, lworst
                print(
                    f"bsp_sssp grid {r}x{c} BUCKETED dist-only {t_lean:7.1f}s  "
                    f"supersteps={stats_l['supersteps']:4d}  "
                    f"({1000 * t_lean / stats_l['supersteps']:.0f} ms/superstep; "
                    f"VERIFIED vs kernel, max |delta| {lworst:.1e})"
                )
            finally:
                spark.sql("DROP TABLE IF EXISTS bsp_bench_gbig_bucketed")
            return 0

        # ------------------------------------------------------ 1M edges
        n_nodes, deg = (50_000, 8) if quick else (125_000, 8)
        pdf = synth_pdf(n_nodes, deg, 42)
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{tmp}/edges")
        roads = spark.read.parquet(f"{tmp}/edges")
        m = roads.count()
        src0 = "n0"
        print(f"synthetic digraph: {n_nodes:,} nodes, {m:,} edges")

        # broadcast-kernel oracle for the same graph
        proj = K.Projection.from_columns(
            pdf["src"].to_numpy(dtype=object),
            pdf["dst"].to_numpy(dtype=object),
            pdf["cost"].to_numpy(dtype=np.float64),
        )
        oracle = K.sssp(proj, src0)

        # --- BSP SSSP, plain parquet edge table
        stats: dict = {}
        t0 = time.perf_counter()
        state = B.bsp_sssp(spark, roads, src0, stats=stats)
        got = {r["node"]: r["dist"] for r in state.select("node", "dist").collect()}
        t_plain = time.perf_counter() - t0
        assert len(got) == len(oracle), (len(got), len(oracle))
        worst = max(abs(got[k] - oracle[k]) for k in oracle)
        assert worst < 1e-9, worst
        print(
            f"bsp_sssp plain       {t_plain:7.1f}s  supersteps={stats['supersteps']:4d}  "
            f"rows={len(got):,}  (VERIFIED vs broadcast kernel, max |delta| {worst:.1e})"
        )

        # --- BSP SSSP, bucketed edge table
        write_bucketed(roads, "bsp_bench_bucketed", ["src"], n_buckets=32)
        try:
            broads = spark.table("bsp_bench_bucketed")
            stats_b: dict = {}
            t0 = time.perf_counter()
            state_b = B.bsp_sssp(spark, broads, src0, stats=stats_b)
            got_b = {r["node"]: r["dist"] for r in state_b.select("node", "dist").collect()}
            t_buck = time.perf_counter() - t0
            assert got_b == got or max(abs(got_b[k] - got[k]) for k in got) < 1e-9
            print(
                f"bsp_sssp bucketed    {t_buck:7.1f}s  supersteps={stats_b['supersteps']:4d}  "
                f"delta vs plain {100 * (t_plain - t_buck) / t_plain:+.0f}%"
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS bsp_bench_bucketed")

        # --- BSP point-to-point (Dijkstra-shaped: target pruning)
        far = max(oracle, key=lambda kk: oracle[kk])
        stats_p: dict = {}
        t0 = time.perf_counter()
        state_p = B.bsp_sssp(spark, roads, src0, target=far, stats=stats_p)
        t_p2p = time.perf_counter() - t0
        drow = state_p.filter(state_p.node == far).select("dist").head()
        assert drow is not None and abs(float(drow[0]) - oracle[far]) < 1e-9
        print(
            f"bsp p2p (far tgt)    {t_p2p:7.1f}s  supersteps={stats_p['supersteps']:4d}  "
            f"dist={float(drow[0]):.3f}"
        )

        # --- BSP Yen k=3
        stats_y: dict = {}
        t0 = time.perf_counter()
        paths = B.bsp_yens_k(spark, roads, src0, far, k=3, stats=stats_y)
        t_yen = time.perf_counter() - t0
        assert len(paths) >= 1 and abs(paths[0][2] - oracle[far]) < 1e-9
        print(
            f"bsp_yens_k k=3       {t_yen:7.1f}s  supersteps={stats_y['supersteps']:4d}  "
            f"paths={len(paths)}  hops={[len(p[0]) - 1 for p in paths]}"
        )

        # --- one APSP wave (the G3 building block past broadcast)
        wave = [f"n{i}" for i in range(0, n_nodes, max(1, n_nodes // 64))][:64]
        stats_w: dict = {}
        t0 = time.perf_counter()
        st = B.bsp_multi_sssp(spark, roads, wave, stats=stats_w)
        n_state = st.count()
        t_wave = time.perf_counter() - t0
        n_waves = -(-n_nodes // 256)
        print(
            f"bsp_multi_sssp 64src {t_wave:7.1f}s  supersteps={stats_w['supersteps']:4d}  "
            f"state rows={n_state:,}  (full APSP = {n_waves:,} waves of 256)"
        )

        # ------------------------------------------- high-diameter floor
        r = 60 if quick else 100
        gpdf = grid_pdf(r, r)
        spark.createDataFrame(gpdf).write.mode("overwrite").parquet(f"{tmp}/grid")
        groads = spark.read.parquet(f"{tmp}/grid")
        gm = groads.count()
        gproj = K.Projection.from_columns(
            gpdf["src"].to_numpy(dtype=object),
            gpdf["dst"].to_numpy(dtype=object),
            gpdf["cost"].to_numpy(dtype=np.float64),
        )
        goracle = K.sssp(gproj, "n0")
        stats_g: dict = {}
        t0 = time.perf_counter()
        gstate = B.bsp_sssp(spark, groads, "n0", stats=stats_g)
        ggot = {row["node"]: row["dist"] for row in gstate.select("node", "dist").collect()}
        t_grid = time.perf_counter() - t0
        gworst = max(abs(ggot[k] - goracle[k]) for k in goracle)
        assert gworst < 1e-9, gworst
        print(
            f"bsp_sssp grid {r}x{r} ({gm:,} edges) {t_grid:7.1f}s  "
            f"supersteps={stats_g['supersteps']:4d}  "
            f"({1000 * t_grid / stats_g['supersteps']:.0f} ms/superstep — "
            "the scheduling floor: supersteps = frontier hop count)"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
