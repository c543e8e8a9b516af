"""CLI entry point mirroring the reference's ``bin/vt-grid`` surface
(/root/reference/bin/vt-grid:7-25 flag-for-flag where semantics carry):

    python -m vt_grid_spark INPUT -o OUTPUT \
        [--minzoom 1] [--basezoom Z] [--gridsize 1024] [--jobs N] \
        (--aggregations 'layer:func(field)' [...] |
         --reducer-module pkg.mod:factory | path/to/mod.py:factory) \
        [--bbox W S E N] [--tiles z,x,y ...] [--resume] [--quiet] \
        [--export-mbtiles K]

INPUT is a parquet/directory of points with (lon, lat, ...) columns, or an
.mbtiles file (ingested through the true MVT decode path; point features
become rows).  OUTPUT is a TableIO root (zoom-partitioned parquet +
a snapshot of level records — the engine's native artifact); ``--export-mbtiles K`` also
packs each written level's cells into MVT tiles (2^K x 2^K cells per
tile) and writes OUTPUT/grid.mbtiles, the reference's output artifact.

Differences from the reference, by design (README "Migrating from
vt-grid"): --jobs maps to local[N] Spark parallelism (on a cluster,
spark-submit owns parallelism and --jobs is ignored); js reducer modules
(lib/aggregate.js:26-36) become Python modules loaded with
--reducer-module (import path or .py file path, ':factory' suffix) — a
.js argument is rejected with that migration hint.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m vt_grid_spark",
        description="Build a tile pyramid of aggregate grid cells.")
    p.add_argument("input", help="points parquet path OR input .mbtiles")
    p.add_argument("-o", "--output", required=True,
                   help="output TableIO root directory")
    p.add_argument("--aggregations", nargs="+", default=None,
                   help="'layer:func(field)' strings (reference bin/vt-grid:33)")
    p.add_argument("--reducer-module", default=None, metavar="pkg.mod:factory",
                   help="Python import path of a custom reducer factory — the "
                        "reference's worker-side module loading "
                        "(lib/aggregate.js:26-36) in Python form.  factory() "
                        "returns {'reduce_fn': callable(pdf, tile)->dict, "
                        "'result_schema': 'col type, ...', optional "
                        "'layer', 'fields' (feature properties "
                        "to extract from an .mbtiles input)}.  On a cluster "
                        "ship the module "
                        "with spark-submit --py-files.  Mutually exclusive "
                        "with --aggregations; every level re-reduces from the "
                        "raw points (arbitrary reducers have no mergeable "
                        "partials)")
    p.add_argument("--minzoom", type=int, default=1)
    p.add_argument("--basezoom", type=int, default=None,
                   help="base OUTPUT zoom; defaults to input maxzoom for "
                        "mbtiles input (reference index.js:75-86)")
    p.add_argument("--gridsize", type=int, default=1024,
                   help="grid cells per tile; power of 4")
    p.add_argument("--jobs", type=int, default=None,
                   help="local[N] cores (ignored under spark-submit)")
    p.add_argument("--layer", default=None,
                   help="input layer to read from an mbtiles input")
    p.add_argument("--bbox", type=float, nargs=4, metavar=("W", "S", "E", "N"))
    p.add_argument("--tiles", nargs="+", default=None, metavar="z,x,y",
                   help="restrict the build to these tiles' cover")
    p.add_argument("--resume", action="store_true",
                   help="skip zoom levels whose manifest is complete")
    p.add_argument("--export-mbtiles", type=int, default=None, metavar="K",
                   help="also write OUTPUT/grid.mbtiles with 2^K x 2^K "
                        "cells per tile")
    p.add_argument("--cluster-output", type=int, default=None, metavar="N",
                   nargs="?", const=0,
                   help="after the build, rewrite every level Z-ordered "
                        "(Morton range partition + sort) into N files per "
                        "level (omit N for the session default) — narrow "
                        "per-file x/y stats for bbox-scan row-group pruning")
    p.add_argument("--quiet", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.aggregations and any(a.endswith(".js") for a in args.aggregations):
        print("js aggregation modules are a Node surface; pass "
              "'layer:func(field)' strings here, or port the module to "
              "Python and load it with --reducer-module pkg.mod:factory "
              "(README: Migrating from vt-grid; operators.custom_reduce)",
              file=sys.stderr)
        return 2
    if bool(args.aggregations) == bool(args.reducer_module):
        print("pass exactly one of --aggregations / --reducer-module",
              file=sys.stderr)
        return 2

    from pyspark.sql import functions as F

    from vt_grid_spark.plans.aggspec import parse_agg_strings
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.operators.pyramid import build_pyramid
    from vt_grid_spark.session import get_spark
    from vt_grid_spark.sources.table_io import TableIO

    reducer_spec = None
    if args.reducer_module:
        # importlib resolution on the driver; executors re-import by
        # cloudpickle reference (same env in local mode, --py-files on a
        # cluster) — the Python twin of the reference's per-worker
        # require() (lib/aggregate.js:26-36)
        import importlib

        mod_path, _, attr = args.reducer_module.partition(":")
        try:
            if mod_path.endswith(".py"):
                # file-path form — the closest UX to the reference's js
                # module FILE argument; shipped to executors via
                # addPyFile below so module-level reducer functions
                # (pickled by reference) import on the workers too
                import importlib.util
                import os

                name = os.path.splitext(os.path.basename(mod_path))[0]
                # refuse to shadow an existing module (r6, ADVICE r5): the
                # module must keep its bare basename so executors can
                # re-import it after addPyFile (cloudpickle references
                # functions by module name), but silently replacing an
                # already-resolvable module of the same name (a user file
                # called json.py) would clobber it for later driver
                # imports — error out instead.
                existing = sys.modules.get(name)
                if existing is not None and os.path.abspath(
                        getattr(existing, "__file__", "") or ""
                ) != os.path.abspath(mod_path):
                    print(f"--reducer-module {mod_path!r}: basename {name!r} "
                          "collides with an already-imported module; rename "
                          "the reducer file", file=sys.stderr)
                    return 2
                spec = importlib.util.spec_from_file_location(name, mod_path)
                module = importlib.util.module_from_spec(spec)
                sys.modules[name] = module
                spec.loader.exec_module(module)
                factory = getattr(module, attr or "factory")
            else:
                factory = getattr(importlib.import_module(mod_path),
                                  attr or "factory")
        except (ImportError, AttributeError, FileNotFoundError) as exc:
            print(f"--reducer-module {args.reducer_module!r}: {exc}",
                  file=sys.stderr)
            return 2
        reducer_spec = factory()
        missing = {"reduce_fn", "result_schema"} - set(reducer_spec)
        if missing:
            print(f"--reducer-module factory result lacks {sorted(missing)}",
                  file=sys.stderr)
            return 2
        layer, specs = reducer_spec.get("layer", "cells"), []
    else:
        per_layer = parse_agg_strings(args.aggregations)
        if len(per_layer) != 1:
            print("one input layer per build (run one build per layer, same "
                  "output root)", file=sys.stderr)
            return 2
        layer, specs = next(iter(per_layer.items()))

    spark = get_spark("vt-grid", cores=args.jobs)
    if reducer_spec is not None and args.reducer_module.split(":")[0].endswith(".py"):
        # ship the reducer module file to the Python workers (the .py form
        # bypasses --py-files, so the CLI does the shipping itself)
        spark.sparkContext.addPyFile(args.reducer_module.split(":")[0])
    if args.input.endswith(".mbtiles"):
        from vt_grid_spark.sources import mvt

        info = mbinfo = mvt.mbtiles_info(args.input)
        basezoom = args.basezoom if args.basezoom is not None else info["maxzoom"]
        feats = mvt.decode_tiles_df(
            mvt.read_mbtiles(spark, args.input, zoom=basezoom))
        if args.layer:
            feats = feats.where(F.col("layer") == args.layer)
        # which feature properties to extract: the agg specs' fields, or —
        # for a module reducer, whose column needs the CLI cannot infer —
        # the factory's explicit 'fields' list
        if reducer_spec is not None:
            prop_fields = reducer_spec.get("fields")
            if prop_fields is None:
                print("--reducer-module with an .mbtiles input needs the "
                      "factory result to list the feature properties the "
                      "reducer reads, e.g. {'fields': ['value']} — the CLI "
                      "cannot infer them from an opaque callable",
                      file=sys.stderr)
                return 2
        else:
            prop_fields = [s.field for s in specs if s.field]
        pts = feats.where(F.col("geom_type") == "Point").select(
            F.get_json_object("geometry_json", "$.coordinates[0]")
            .cast("double").alias("lon"),
            F.get_json_object("geometry_json", "$.coordinates[1]")
            .cast("double").alias("lat"),
            *[F.get_json_object("props_json", f"$.{f}")
              .cast("double").alias(f) for f in prop_fields],
        )
        if not args.quiet:
            print(f"mbtiles input: {json.dumps(mbinfo['metadata'])} "
                  f"z{info['minzoom']}-{info['maxzoom']}", file=sys.stderr)
    else:
        if args.basezoom is None:
            print("--basezoom is required for parquet input", file=sys.stderr)
            return 2
        basezoom = args.basezoom
        pts = spark.read.parquet(args.input)

    io = TableIO(args.output)
    if reducer_spec is not None:
        if args.tiles:
            print("--tiles is not supported with --reducer-module",
                  file=sys.stderr)
            return 2
        from vt_grid_spark.operators.custom_reduce import build_custom_pyramid

        if args.bbox:
            w, s, e, n = args.bbox
            pts = pts.where((F.col("lon") >= w) & (F.col("lon") <= e)
                            & (F.col("lat") >= s) & (F.col("lat") <= n))
        manifests = build_custom_pyramid(
            pts, io, reducer_spec["reduce_fn"],
            reducer_spec["result_schema"], basezoom=basezoom,
            minzoom=args.minzoom, gridsize=args.gridsize, resume=args.resume)
    else:
        tiles = None
        if args.tiles:
            tiles = [tuple(int(v) for v in t.split(",")) for t in args.tiles]
        plan = PyramidPlan(
            bands=[ZoomBand(basezoom=basezoom, minzoom=args.minzoom,
                            aggregations=specs)],
            gridsize=args.gridsize,
            bbox=tuple(args.bbox) if args.bbox else None,
            tiles=tiles)
        manifests = build_pyramid(pts, plan, io, resume=args.resume)
    if not args.quiet:
        for z in sorted(manifests, reverse=True):
            m = manifests[z]
            print(f"zoom={z} rows={m['row_count']} status={m['status']}",
                  file=sys.stderr)

    if args.cluster_output is not None:
        for z in sorted(manifests, reverse=True):
            manifests[z] = io.cluster_level(
                spark, z, partitions=args.cluster_output or None)
        if not args.quiet:
            print(f"z-ordered {len(manifests)} levels", file=sys.stderr)

    if args.export_mbtiles is not None:
        from vt_grid_spark.sources import mvt

        k = args.export_mbtiles
        tiles_out = []
        prop_cols = None
        for z in sorted(manifests, reverse=True):
            cells = io.read_level(spark, z)
            if prop_cols is None:
                prop_cols = [c for c in cells.columns
                             if c not in {"zoom", "x", "y", "quadkey"}]
            tiles_out.append(mvt.cells_to_mvt_tiles(
                cells, cell_z=z, k=k, layer=layer, props=prop_cols))
        blobs = tiles_out[0]
        for t in tiles_out[1:]:
            blobs = blobs.unionByName(t)
        n = mvt.write_mbtiles_df(blobs, f"{args.output}/grid.mbtiles")
        if not args.quiet:
            print(f"grid.mbtiles: {n} tiles", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
