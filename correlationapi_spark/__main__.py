"""CLI for the engine: ``python -m correlationapi_spark <command>``.

The reference exposes its correlation surface to HTTP consumers
(SURVEY.md §3.1); this CLI is the equivalent standalone entry point over
the same service layer (api.CorrelationAPI) plus direct access to the
declared query inventory. Every command prints one JSON document to
stdout.

The table commands are derived from ``http_api.OPERATIONS``: one per
HTTP operation, named after its path (``/index/pq_attach`` →
``index-pq-attach``; ``/scd2/merge`` is ``scd2-merge-into``), with one
flag per wire parameter and the same parsers, defaults and error map
as the listener. ``--data PATH`` registers the dataset the command
reads; ``--fill-gaps`` (lagged/rolling/xcorr/acf) materializes the
missing periods of the time grain and forward-fills them before
correlating, like ``fill_gaps=1`` over HTTP. Exit status: 0 ok, 2 user error (unknown dataset or
variable, bad parameter), 3 any other failure — always one JSON line.

Commands:
  correlate --data PATH --x COL --y COL [--method pearson|spearman|kendall|bicor]
            [--group-by COL] [--format parquet|csv|json]
  matrix    --data PATH [--vars a,b,c] [--method ...]
  lagged    --data PATH --time COL --value COL [--lag N] [--grain day]
            [--fill-gaps]
  partial   --data PATH --x COL --y COL --control COL[,COL2,...]
            [--group-by COL]   (comma-separated controls -> higher-order)
  xcorr     --data PATH --time COL --x COL --y COL [--max-lag N] [--grain day]
            [--fill-gaps]
  acf       --data PATH --time COL --value COL [--max-lag N] [--grain day]
            [--fill-gaps]
            (returns acf lags + pacf + significance band / Ljung-Box)
  rolling   --data PATH --time COL --value COL [--window N] [--lag N]
            [--grain day] [--fill-gaps]
  similar   --data PATH --id COL --vector COL (--probes 1,2 |
            --query-vector f,f,... [repeatable]) [--k N]
            [--method exact|ivf] [--n-cells N] [--n-probe N]
  index-build  --data PATH --id COL --vector COL --path DIR
            [--n-cells N] [--train-fraction F]   (persist an IVF index;
            a rebuild reports pq_dropped when it discarded a PQ
            attachment — re-run index-pq-attach)
  index-append --data PATH --id COL --vector COL --path DIR [--where SQL]
            (assign-only delta append; base cell files untouched)
  index-status --path DIR          (cell-balance gauge + recluster
            signal + pq_attached)
  index-probe  --path DIR --probes 1,2 [--k N] [--n-probe N] [--refine R]
            [--method ivf|pq|ivfpq]   (pq/ivfpq score stored codes)
  index-pq-attach --path DIR  (attach PQ: stored 6-bit code column)
  index-delete --path DIR --ids 1,2   (tombstone ids; probes stop answering)
  index-compact --path DIR   (rewrite dead cells live-only, clear tombstones)
  index-recluster --path DIR [--threshold R] [--n-cells N]
            [--train-fraction F]   (re-train quantizer when max/avg > R)
  index-recover --path DIR   (reclaim retired/orphan store objects now)
  scd2-merge-into --data PATH --user COL --event COL --time COL --order COL
            --path DIR   (incremental SCD2 store merge)
  scd2-recover --path DIR    (reclaim retired/orphan store objects now)
  scd2-snapshot --path DIR --ts TS [--users 1,2] [--limit N]
            (point-in-time dimension read; bucket-pruned with --users)
  psi-repin --data PATH --time COL --value COL --path DIR --end TS
            [--start TS]      (pin a new versioned PSI drift reference)
  psi-status --path DIR       (latest pinned reference: version + bins)
  psi-drift --data PATH --time COL --value COL --path DIR
            (per-day-window PSI vs the latest pinned reference)
  dedup     --data PATH --id COL --text COL
            [--method exact|keep_best|ngram|minhash] [--threshold T] [--limit N]
  assign    --data PATH --id COL --vector COL --centroids 0,1,2 [--limit N]
  knn-graph --data PATH --id COL --vector COL [--k N] [--limit N]
  kmeans    --data PATH --id COL --vector COL [--k N] [--n-iter N] [--tol T]
            [--centroids]
  transitions --data PATH --user COL --event COL --time COL --order COL
  attribution --data PATH --user COL --event COL --time COL --order COL
            --target TYPE
  attribution-multi --data PATH --user COL --event COL --time COL
            --order COL --target TYPE [--horizon-days N]
  pagerank  --data PATH --src COL --dst COL [--weight COL] [--damping D]
            [--n-iter N] [--limit N]
  pack      --data PATH --id COL --text COL [--capacity N] [--limit N] [--tokenizer ws|bpeish]
  bpe       --data PATH --id COL --text COL [--n-merges N] [--vocab-cap N]
  tukey     --data PATH --var COL --group-by COL   (HSD pairwise post-hoc)
  decompose --data PATH --var COL --time COL [--grain day] [--period 7]
  weighted-quantile --data PATH --var COL --weight COL [--group-by COL]
            [--quantiles 0.25,0.5,0.75]
  gopher    --data PATH [--id COL] [--text COL] [--limit N]
  stationary --data PATH --user COL --event COL --time COL --order COL
            [--n-iter N]
  serve     [--host H] [--port P] [--auth-token T]  # REST listener; no
            token = read-only (mutating routes answer 403)
  query     --key q_name [--sf-dir DIR]      # run a declared inventory key
  keys                                        # list the declared inventory
"""

from __future__ import annotations

import argparse
import json
import sys

from .http_api import OPERATIONS, _call, _error

# CLI spellings that differ from the table's HTTP names
_COMMANDS = {"scd2_merge": "scd2-merge-into"}
_FLAGS = {
    ("distribution", "method"): "pct_method",
    ("correlation_matrix", "variables"): "vars",
    ("mixed_matrix", "variables"): "vars",
    ("index_probe", "probe_ids"): "probes",
}
# dataset parameters the CLI fills by registering a file:
# wire name -> (path flag, format flag, registered name)
_DATASETS = {
    "dataset": ("data", "format", "ds"),
    "child": ("data", "format", "ds"),
    "parent": ("parent_data", "parent_format", "parent"),
}


def _spark():
    from .session import get_spark

    spark = get_spark("correlationapi-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _flag(name: str) -> str:
    return "--" + name.replace("_", "-")


def _split(raw: str) -> list[str]:
    return [x.strip() for x in raw.split(",") if x.strip()]


def _add_operation(sub, op) -> None:
    command = op.path[1:].replace("/", "-").replace("_", "-")
    sp = sub.add_parser(_COMMANDS.get(op.name, command), help=op.summary)
    sp.set_defaults(op=op)
    for wire, p in op.params.items():
        if wire in _DATASETS:
            path, fmt, _ = _DATASETS[wire]
            sp.add_argument(_flag(path), dest=path, required=True,
                            help="dataset path")
            sp.add_argument(_flag(fmt), dest=fmt, default="parquet",
                            choices=["parquet", "csv", "json"])
            continue
        flag = _flag(_FLAGS.get((op.name, wire), wire))
        if p.type == "bool":
            sp.add_argument(flag, dest=wire, action="store_true", default=None)
        else:
            sp.add_argument(
                flag, dest=wire,
                required=wire in op.required and not p.has_default,
                type=_split if p.type.startswith("list") else None,
            )
    if op.name == "similar":
        # raw embeddings: the CLI twin of POST /similar
        sp.add_argument("--query-vector", action="append", dest="query_vectors",
                        help="raw probe embedding as comma-separated floats "
                        "(repeatable); alternative to --probes")


def _run_operation(op, args) -> int:
    try:
        from .api import CorrelationAPI

        api = CorrelationAPI(_spark())
        values = vars(args).copy()
        for wire in op.params:
            if wire in _DATASETS:
                path, fmt, name = _DATASETS[wire]
                api.register_dataset(name, values[path], fmt=values[fmt])
                values[wire] = name
        extra = {}
        if values.get("query_vectors"):
            extra["query_vectors"] = [
                [float(x) for x in qv.split(",")] for qv in values["query_vectors"]
            ]
        res = _call(api, op, values, **extra)
    except Exception as e:  # noqa: BLE001 - CLI boundary: one JSON line
        status, payload = _error(e)
        print(json.dumps(payload))
        return 3 if status == 500 else 2
    print(json.dumps(res, default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="correlationapi_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for op in OPERATIONS:
        _add_operation(sub, op)

    q = sub.add_parser("query", help="run a declared inventory key")
    q.add_argument("--key", required=True)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("keys", help="list the declared query inventory")

    sv = sub.add_parser("serve", help="start the REST listener (stdlib http.server)")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8080)
    sv.add_argument("--auth-token", default=None,
                    help="shared token enabling mutating routes "
                         "(default: CORRELATIONAPI_AUTH_TOKEN env var; "
                         "unset = read-only server)")

    args = p.parse_args(argv)
    if hasattr(args, "op"):
        return _run_operation(args.op, args)

    if args.cmd == "serve":
        from .http_api import serve

        serve(_spark(), host=args.host, port=args.port,
              auth_token=args.auth_token)
        return 0

    if args.cmd == "keys":
        from .registry import load_registry

        out = {
            k: {"oracle": s.oracle is not None, "doc": s.doc}
            for k, s in sorted(load_registry().items())
        }
        print(json.dumps(out, indent=2))
        return 0

    if args.cmd == "query":
        from .registry import load_registry

        registry = load_registry()
        if args.key not in registry:
            print(json.dumps({"error": f"unknown key {args.key!r}",
                              "hint": "run: python -m correlationapi_spark keys"}))
            return 2
        df = registry[args.key].fn(_spark(), args.sf_dir)
        rows = [r.asDict(recursive=True) for r in df.limit(args.limit).collect()]
        print(json.dumps({"key": args.key, "n_shown": len(rows), "rows": rows},
                         default=str))
        return 0


if __name__ == "__main__":
    sys.exit(main())
