"""REST adapter: the reference's HTTP service surface over CorrelationAPI.

BigDataGrapes-EU/CorrelationAPI is consumed over HTTP (SURVEY.md §1.1 /
§3.1, capability-level — the reference tree was empty at survey time, so
the route inventory is reconstructed from the capability survey, not from
file:line citations). This module is that listener built ONLY on the
Python standard library (http.server) — no web framework exists in the
container, and none is needed for a JSON-for-JSON contract:

  GET  /health                                → {"status": "ok"}
  GET  /datasets                              → ["name", ...]
  POST /datasets/{name}   {"path","format"}   → {"dataset","columns"}
  GET  /datasets/{name}/variables             → ["numeric_col", ...]
  GET  /correlate?dataset=&x=&y=[&method=pearson|spearman|kendall|bicor][&group_by=]
  GET  /association?dataset=&a=&b=[&method=cramer|theil|mi|eta]
  GET  /distribution?dataset=&var=[&group_by=][&gini=1][&percentiles=0.5,0.9][&method=exact|sketch]
  GET  /compare?dataset=&var=&group_by=&a=&b=  (two-sample KS + Mann-Whitney)
  GET  /anova?dataset=&var=&group_by=[&center=mean|median]
       (k-sample one-way ANOVA F, or Brown-Forsythe W with center=median)
  GET  /tukey?dataset=&var=&group_by=  (Tukey-Kramer HSD pairwise post-hoc)
  GET  /integrity?child=&fk=&parent=&pk=  (FK-edge referential audit)
  GET  /basket?dataset=&basket=&item=[&min_count=10][&limit=50]
       (association rules: support/confidence/lift per item pair)
  GET  /changepoint?dataset=&var=&time=[&grain=day]
       (CUSUM curve + estimated level-shift period)
  GET  /trend?dataset=&var=&time=[&group_by=][&grain=day]
       (per-group OLS trend: slope/intercept/R2 over period totals)
  GET  /decompose?dataset=&var=&time=[&grain=day][&period=7]
       (classical additive decomposition: per-phase seasonal index +
       centered-MA trend mean)
  GET  /weighted_quantile?dataset=&var=&weight=[&group_by=][&quantiles=0.25,0.5,0.75]
       (weighted percentiles via exact integer running-weight cutoffs)
  GET  /gopher?dataset=[&id=doc_id][&text=text][&limit=100]
       (Gopher-rule quality report: per-rule pass counts + failing docs)
  GET  /forecast?dataset=&var=&time=[&group_by=][&grain=day]
       [&method=holt|holtwinters|naive][&season=7][&alpha=0.3][&beta=0.1][&gamma=0.2]
       (Holt level+trend, additive Holt-Winters with weekly season, or
       seasonal-naive WAPE/MAE backtest)
  GET  /knn_graph?dataset=&id=&vector=[&k=5][&limit=100]
       (mutual k-NN cosine graph: totals + strongest edges)
  GET  /pca?dataset=&id=&vector=[&k=8]  (PCA spectrum of an embedding column)
  GET  /drift?dataset=&var=&time=[&grain=day]  (numeric var: per-period
       KS/PSI/KL/JS vs reference; string var: per-period chi-square)
  POST /mixed_matrix {"dataset"[,"variables"]}  (type-appropriate measure per pair)
  GET  /survival?dataset=&start=&end=[&group_by=&a=&b=]  (KM curve [+ log-rank])
  POST /matrix            {"dataset","variables","method"}
  GET  /lagged?dataset=&time=&value=[&lag=][&grain=][&fill_gaps=]
  GET  /rolling?dataset=&time=&value=[&window=][&lag=][&grain=][&fill_gaps=]
  GET  /xcorr?dataset=&time=&x=&y=[&max_lag=][&grain=][&fill_gaps=]
  GET  /acf?dataset=&time=&value=[&max_lag=][&grain=][&fill_gaps=]
       → lags (acf per lag) + pacf (Durbin-Levinson) + significance band
  GET  /partial?dataset=&x=&y=&control=[&group_by=]
       (control may be comma-separated for higher-order partials)
  GET  /similar?dataset=&id=&vector=&probes=1,2[&k=][&method=exact|ivf|pq|ivfpq]
       [&n_cells=][&n_probe=]     → top-k neighbors per probe id (cosine
       for exact/ivf, code-space ADC L2 for pq/ivfpq)
  POST /similar {"dataset","id","vector","query_vectors":[[...],…],…}
       → top-k neighbors of RAW embeddings (keys q0, q1, …)
  POST /index/build  {"dataset","id","vector","path"
       [,"n_cells","train_fraction","where"]}
       → 201 + persisted-IVF status (cell-partitioned corpus + centroids;
         refuses to clobber a non-index directory; 200 on rebuild, with
         "pq_dropped": true when the replaced index had a PQ attachment
         the rebuild discarded — re-run /index/pq-attach)
  POST /index/append {"dataset","id","vector","path"[,"where"]}
       → assign ONLY the (filtered) rows to the frozen centroids, append
         their cell files, return the post-append drift gauge
  GET  /index/status?path=        → cell-balance gauge (recluster
         signal) + pq_attached (will pq/ivfpq probes answer here?)
  POST /index/probe  {"path","probe_ids":[…][,"k","n_probe","method",
         "refine"]}
       → top-k over the persisted index (partition-pruned candidate
         read); method=ivf (exact cosine refine, default) | pq |
         ivfpq (round 14: score the attached store's 6-bit code
         column — no per-call training, neighbors carry adc_l2);
         "refine": R (round 15, pq/ivfpq only) exactly re-ranks the
         ADC top-R per probe — neighbors then carry exact l2
  POST /index/pq_attach {"path"}  → attach product quantization: train
         the residual codebook (v − per-cell anchor, round 15) from
         the stored corpus, rewrite it with the code column, publish
         books + anchors + codes in one atomic pointer swap
  POST /index/delete {"path","ids":[…]}
       → tombstone ids (probes stop answering; compact reclaims bytes)
  POST /index/compact {"path"}    → rewrite dead cells live-only, clear
         tombstones, right-size the id Bloom
  POST /index/recluster {"path"[,"threshold","n_cells","train_fraction"]}
       → re-train the quantizer + rebuild when max/avg cell > threshold
         (round 14: staged as unreferenced versioned objects, committed
         by ONE atomic layout-pointer swap — readers never torn; no-op
         below threshold)
  POST /index/recover {"path"}  → reclaim retired/orphan store objects
         now (round 14: nothing needs a roll-forward anymore;
         recovered=false when there was nothing to reclaim; gc_skipped
         lists superseded pointer files the GC could not reclaim)
  POST /psi/repin {"dataset","time","value","path"[,"start","end","bins"]}
       → pin/rotate a versioned PSI reference over any window
  GET  /psi/status?path=          → the live PSI reference pin
  GET  /psi/drift?dataset=&time=&value=&path=  → per-window PSI vs pin
  POST /scd2/merge {"dataset","user","event","time","order","path"}
       → merge a staged CDC batch into an EXISTING bucketed SCD2 store
         (appends the batch as one delta object behind one atomic
         pointer commit, rewriting no bucket; once the store holds
         n_buckets deltas the next merge folds them into the touched
         buckets; the bucketing modulus comes from the store's layout
         pointer)
  POST /scd2/recover {"path"}  → reclaim retired/orphan store objects
         (idempotent; recovered=false when nothing to do; gc_skipped
         as for /index/recover)
  POST /scd2/snapshot {"path","ts"[,"users","limit"]}  → point-in-time
         dimension read (pure read despite POST; bucket-pruned with
         users)
  GET  /dedup?dataset=&id=&text=[&method=exact|keep_best|ngram|minhash][&threshold=]
       [&limit=]                  → duplicate listing + engine-side totals
  GET  /assign?dataset=&id=&vector=&centroids=0,1,2[&limit=]
       → nearest-centroid cosine assignment + per-cell counts
  GET  /kmeans?dataset=&id=&vector=[&k=][&n_iter=][&tol=][&centroids=1]
       → iterative spherical k-means: sizes, mean cosines, objective trace
  GET  /transitions?dataset=&user=&event=&time=&order=
       → first-order Markov transition matrix over per-user chains
  GET  /stationary?dataset=&user=&event=&time=&order=[&n_iter=50]
       → stationary distribution of the chain (long-run event-type share)
  GET  /attribution?dataset=&user=&event=&time=&order=&target=
       → last-touch conversion attribution buckets
  GET  /attribution_multi?dataset=&user=&event=&time=&order=&target=
       [&horizon_days=30] → linear/position/time-decay credit per model
  GET  /bpe?dataset=&id=&text=[&n_merges=24][&vocab_cap=5000]
       → trained BPE merges table + corpus compression totals
  GET  /pagerank?dataset=&src=&dst=[&weight=][&damping=][&n_iter=][&limit=]
       → weighted PageRank over an edge table, top nodes by rank
  GET  /pack?dataset=&id=&text=[&capacity=][&limit=][&tokenizer=ws|bpeish]
       → concat-and-chunk packing layout + corpus token/chunk totals
       (round 6: the LLM operators are parameterized service calls, not
       only canned keys)

Dispatch: one table, ``OPERATIONS``, names each operation's HTTP
method and path, its CorrelationAPI method, the wire parameters it
requires (in the method's positional order) and accepts, whether it
mutates state, and a one-line summary. Routing, the mutation guard and
the CLI (``__main__``) are all derived from it. The table holds no
defaults and no types: only the parameters a caller supplied are
passed (a JSON null counts as not supplied), so the CorrelationAPI
signature is the one place defaults live, and each parameter's parser
follows from that signature — integers accept ints, integral floats
and base-10 digit strings (never bools); booleans accept 1/true/yes
and 0/false/no in any case; lists accept a JSON array or a
comma-separated string. A bad value is a 400 that names the parameter.

Error mapping at the HTTP boundary (shared with the CLI, which exits 2
for 404/400 and 3 for 500): KeyError → 404 (unknown dataset /
variable), ValueError|TypeError → 400 (bad method / grain / non-numeric
column, bad parameter, unreadable Content-Length or body), anything
else → 500 with the exception class name. Every response body is one
JSON document.

Mutation guard (round 12): the routes that change server or on-disk
state — dataset registration, /index/{build,append,delete,compact,
recluster,recover,pq_attach}, /psi/repin, /scd2/merge and /scd2/recover
— are gated behind a shared token. With no
token configured the server is READ-ONLY: those routes answer 403 and
name the knob to turn. With ``auth_token`` set (``serve --auth-token``
or the CORRELATIONAPI_AUTH_TOKEN env var), a mutating request must
carry it in ``Authorization: Bearer <token>`` (or ``X-Auth-Token``);
a missing or wrong token answers 401 + WWW-Authenticate. Read routes
stay open — they expose only registered datasets, and the compare is
constant-time (hmac.compare_digest). POST alone is NOT the mutation
signal: /matrix, /mixed_matrix, /similar, /index/probe and
/scd2/snapshot are pure reads that ride POST for their body payloads.

Scale note: the handler threads share ONE SparkSession — Spark sessions
are thread-safe and each request is a short driver-side job submission;
the heavy lifting runs on the cluster. ThreadingHTTPServer keeps slow
queries from blocking /health.
"""

from __future__ import annotations

import hmac
import inspect
import json
import os
import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable, Mapping, NamedTuple
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from .api import CorrelationAPI, parse_control_arg
from .ordering import pinned

_DATASET_RE = re.compile(r"^/datasets/([A-Za-z0-9_.-]+)$")
_VARIABLES_RE = re.compile(r"^/datasets/([A-Za-z0-9_.-]+)/variables$")
_DIGITS = re.compile(r"[+-]?[0-9]+")
_TRUE, _FALSE = ("1", "true", "yes"), ("0", "false", "no")


# ------------------------------------------------------------ value parsers
# Each takes (raw value, wire name) and raises ValueError naming the
# parameter. HTTP query strings and CLI flags arrive as str, JSON bodies
# as any JSON type; the CLI splits list flags on commas before parsing.


def _as_is(value: Any, name: str) -> Any:
    return value


def _int(value: Any, name: str) -> int:
    if not (type(value) is int  # bool is an int subclass: refused
            or (type(value) is float and value.is_integer())
            or (isinstance(value, str) and _DIGITS.fullmatch(value.strip()))):
        raise ValueError(f"{name} must be an integer, got {value!r}")
    return int(value)


def _float(value: Any, name: str) -> float:
    if not isinstance(value, bool):
        try:
            return float(value)
        except (TypeError, ValueError):
            pass
    raise ValueError(f"{name} must be a number, got {value!r}")


def _bool(value: Any, name: str) -> bool:
    text = str(value).strip().lower()
    if text in _TRUE or text in _FALSE:
        return text in _TRUE
    raise ValueError(f"{name} must be 1/true/yes or 0/false/no, got {value!r}")


def _list(item: Callable[[Any, str], Any]) -> Callable[[Any, str], list]:
    def parse(value: Any, name: str) -> list:
        if isinstance(value, str):
            value = [v.strip() for v in value.split(",") if v.strip()]
        if not isinstance(value, list):
            raise ValueError(f"{name} must be a list, got {value!r}")
        return [item(v, f"{name}[{i}]") for i, v in enumerate(value)]
    return parse


def _json_array(value: Any, name: str) -> list:
    # a scalar string "12" would iterate per-CHARACTER into [1, 2] and
    # silently answer for the wrong users; ids pass through UNTYPED
    # (advice r13: int(u) made string-keyed stores unqueryable and
    # truncated 1.9 to user 1) — scd2_snapshot_at coerces them from the
    # store's own persisted key_type and rejects non-integral numerics
    if not isinstance(value, list):
        raise ValueError(f'"{name}" must be a JSON array of ids')
    return value


# parser by the CorrelationAPI parameter's type: its default's type, or
# its annotation when the default is None or absent
_PARSERS = {
    "str": _as_is, "int": _int, "float": _float, "bool": _bool,
    "list[int]": _list(_int), "list[float]": _list(_float),
    "list[str]": _list(_as_is),
}
# wire formats a type cannot express, by CorrelationAPI parameter name
_WIRE_FORMATS = {
    "control": lambda value, name: parse_control_arg(value),
    "users": _json_array,
}


class Param(NamedTuple):
    kwarg: str         # the CorrelationAPI parameter it fills
    type: str          # resolved from the signature, e.g. "list[int]"
    parse: Callable[[Any, str], Any]
    has_default: bool  # False: the API cannot be called without it


class Op(NamedTuple):
    verb: str                  # HTTP method
    path: str
    name: str                  # CorrelationAPI method
    required: tuple[str, ...]  # wire names, in the method's positional order
    params: dict[str, Param]   # every wire name -> its parameter
    mutates: bool
    summary: str


def _param(p: inspect.Parameter) -> Param:
    empty = p.default is inspect.Parameter.empty
    kind = (p.annotation.strip("'").removesuffix(" | None")
            if empty or p.default is None else type(p.default).__name__)
    return Param(p.name, kind, _WIRE_FORMATS.get(p.name) or _PARSERS[kind],
                 not empty)


def _op(route: str, name: str, required: str, optional: str = "",
        summary: str = "", mutates: bool = False) -> Op:
    """``optional`` is space-separated wire names; ``wire=kwarg`` renames."""
    verb, path = route.split()
    sig = inspect.signature(getattr(CorrelationAPI, name)).parameters
    positional = [p for p in sig if p != "self"]
    wires = dict(zip(required.split(), positional))
    wires.update(w.split("=") if "=" in w else (w, w) for w in optional.split())
    params = {w: _param(sig[kwarg]) for w, kwarg in wires.items()}
    return Op(verb, path, name, tuple(required.split()), params, mutates,
              summary)


OPERATIONS = (
    _op("GET /correlate", "correlate", "dataset x y", "method group_by",
        "pairwise correlation: pearson | spearman | kendall | bicor"),
    _op("GET /association", "association", "dataset a b", "method",
        "categorical/mixed association: cramer | theil | mi | eta"),
    _op("GET /distribution", "distribution", "dataset var",
        "group_by gini percentiles method normality",
        "distribution profile: moments [+ gini, percentiles, Jarque-Bera]"),
    _op("GET /compare", "compare", "dataset var group_by a b", "",
        "two-sample distribution comparison: KS + Mann-Whitney"),
    _op("GET /anova", "anova", "dataset var group_by", "center",
        "k-sample ANOVA F (center=mean) or Brown-Forsythe W (median)"),
    _op("GET /tukey", "tukey", "dataset var group_by", "",
        "Tukey-Kramer HSD pairwise post-hoc after anova"),
    _op("GET /integrity", "integrity", "child fk parent pk", "",
        "referential-integrity audit of one FK edge"),
    _op("GET /basket", "basket", "dataset basket item", "min_count limit",
        "market-basket rules: support/confidence/lift per item pair"),
    _op("GET /changepoint", "changepoint", "dataset var time", "grain",
        "CUSUM changepoint curve + estimated level-shift period"),
    _op("GET /forecast", "forecast", "dataset var time",
        "group_by grain method season alpha beta gamma",
        "per-group Holt / Holt-Winters forecast or seasonal-naive backtest"),
    _op("GET /trend", "trend", "dataset var time", "group_by grain",
        "per-group OLS trend of period totals (slope/intercept/R2)"),
    _op("GET /decompose", "decompose", "dataset var time", "grain period",
        "classical additive decomposition: seasonal index + trend mean"),
    _op("GET /weighted_quantile", "weighted_quantile", "dataset var weight",
        "group_by quantiles",
        "weighted percentiles via exact integer running-weight cutoffs"),
    _op("GET /gopher", "gopher", "dataset", "id=id_col text=text_col limit",
        "Gopher-rule quality report over an (id, text) table"),
    _op("GET /knn_graph", "knn_graph", "dataset id vector", "k limit",
        "mutual k-NN cosine graph over an (id, vector) table"),
    _op("GET /pca", "pca", "dataset id vector", "k",
        "PCA spectrum of an embedding column"),
    _op("GET /drift", "drift", "dataset var time", "grain",
        "per-period distribution drift vs the full-period reference"),
    _op("POST /mixed_matrix", "mixed_matrix", "dataset", "variables",
        "mixed-type association matrix (pearson / cramers_v / eta)"),
    _op("GET /survival", "survival", "dataset start end",
        "group_by a=group_a b=group_b",
        "Kaplan-Meier conversion curve (+ optional log-rank A/B)"),
    _op("POST /matrix", "correlation_matrix", "dataset", "variables method",
        "all-pairs correlation matrix"),
    _op("GET /lagged", "lagged_correlation", "dataset time value",
        "lag grain fill_gaps", "lagged autocorrelation of a time series"),
    _op("GET /rolling", "rolling_correlation", "dataset time value",
        "window lag grain fill_gaps", "rolling lag-k autocorrelation"),
    _op("GET /xcorr", "cross_correlation", "dataset time x y",
        "max_lag grain fill_gaps", "lead-lag cross-correlation of two series"),
    _op("GET /acf", "acf", "dataset time value", "max_lag grain fill_gaps",
        "autocorrelation function + PACF + significance"),
    _op("GET /partial", "partial_correlation", "dataset x y control",
        "group_by", "partial correlation corr(x, y | control[,...])"),
    _op("GET /similar", "similar", "dataset id vector probes",
        "k method n_cells n_probe",
        "top-k neighbors of probe rows (exact | ivf | pq | ivfpq)"),
    _op("POST /index/build", "index_build", "dataset id vector path",
        "n_cells train_fraction where", "train + persist an IVF ANN index",
        mutates=True),
    _op("POST /index/append", "index_append", "dataset id vector path",
        "where", "assign-only append to a persisted IVF index",
        mutates=True),
    _op("GET /index/status", "index_status", "path", "",
        "cell-balance drift gauge + pq_attached of an IVF index"),
    _op("POST /index/probe", "index_probe", "path probe_ids",
        "k n_probe method refine", "top-k over a persisted IVF index"),
    _op("POST /index/pq_attach", "index_pq_attach", "path", "",
        "attach product quantization (stored 6-bit code column)",
        mutates=True),
    _op("POST /index/delete", "index_delete", "path ids", "",
        "tombstone ids out of a persisted IVF index", mutates=True),
    _op("POST /index/compact", "index_compact", "path", "",
        "rewrite tombstone-bearing cells live-only", mutates=True),
    _op("POST /index/recluster", "index_recluster", "path",
        "threshold n_cells train_fraction",
        "re-train the quantizer when max/avg cell size > threshold",
        mutates=True),
    _op("POST /index/recover", "index_recover", "path", "",
        "reclaim the index's retired/orphan store objects", mutates=True),
    _op("POST /psi/repin", "psi_repin", "dataset time value path end",
        "start", "pin a new versioned PSI drift reference", mutates=True),
    _op("GET /psi/status", "psi_status", "path", "",
        "latest pinned PSI reference (version + bins)"),
    _op("GET /psi/drift", "psi_drift", "dataset time value path", "",
        "per-day-window PSI vs the latest pinned reference"),
    _op("POST /scd2/merge", "scd2_merge",
        "dataset user event time order path", "",
        "merge a staged CDC batch into an existing SCD2 store",
        mutates=True),
    _op("POST /scd2/recover", "scd2_recover_store", "path", "",
        "reclaim the SCD2 store's retired/orphan objects", mutates=True),
    _op("POST /scd2/snapshot", "scd2_snapshot", "path ts", "users limit",
        "point-in-time SCD2 dimension read"),
    _op("GET /dedup", "dedup", "dataset id text", "method threshold limit",
        "duplicate report over an (id, text) table"),
    _op("GET /assign", "assign", "dataset id vector centroids", "limit",
        "nearest-centroid cosine assignment + per-cell counts"),
    _op("GET /kmeans", "kmeans", "dataset id vector",
        "k n_iter tol centroids=include_centroids",
        "iterative spherical k-means over an (id, vector) table"),
    _op("GET /transitions", "transitions", "dataset user event time order",
        "", "Markov transition matrix over per-user event chains"),
    _op("GET /stationary", "stationary", "dataset user event time order",
        "n_iter", "stationary distribution of the per-user event chain"),
    _op("GET /attribution", "attribution",
        "dataset user event time order target", "",
        "last-touch attribution of target events"),
    _op("GET /attribution_multi", "attribution_multi",
        "dataset user event time order target", "horizon_days",
        "multi-touch (linear/position/time-decay) attribution"),
    _op("GET /bpe", "bpe_train", "dataset id text", "n_merges vocab_cap",
        "train a BPE merges table on a text corpus"),
    _op("GET /pagerank", "pagerank", "dataset src dst",
        "weight damping n_iter limit", "weighted PageRank over an edge table"),
    _op("GET /pack", "pack", "dataset id text", "capacity limit tokenizer",
        "concat-and-chunk packing layout over an (id, text) table"),
)
_BY_ROUTE = {(op.verb, op.path): op for op in OPERATIONS}
# every route path, for the docs-traceability check
ROUTES = sorted({"/health", "/datasets"} | {op.path for op in OPERATIONS})
# Routes that mutate server or on-disk state. Everything else —
# including the POST-carrying pure reads (/matrix, /mixed_matrix,
# /similar, /index/probe, /scd2/snapshot) — stays open.
_MUTATING_PATHS = frozenset(op.path for op in OPERATIONS if op.mutates)


def _call(api: CorrelationAPI, op: Op, values: Mapping[str, Any],
          **extra: Any) -> Any:
    """Call op's API method with the parameters present in ``values``;
    every pin the call makes is released when it returns."""
    kwargs = {p.kwarg: p.parse(values[w], w) for w, p in op.params.items()
              if values.get(w) is not None}
    with pinned():
        return getattr(api, op.name)(**kwargs, **extra)


def _require(values: Mapping[str, Any], names: tuple[str, ...],
             missing: str) -> None:
    for name in names:
        if values.get(name) is None:
            raise ValueError(missing.format(name))


def _error(e: Exception) -> tuple[int, dict[str, str]]:
    """The one error map for the listener and the CLI."""
    if isinstance(e, KeyError):
        return 404, {"error": str(e)}
    if isinstance(e, (ValueError, TypeError)):
        return 400, {"error": str(e)}
    return 500, {"error": f"{type(e).__name__}: {str(e)[:300]}"}


def _is_mutation(method: str, path: str) -> bool:
    """True when (method, path) would change server or persisted state."""
    if method != "POST":
        return False
    return path in _MUTATING_PATHS or _DATASET_RE.match(path) is not None


def _presented_token(headers: Mapping[str, str]) -> str | None:
    """Extract the shared token from Authorization: Bearer or X-Auth-Token."""
    auth = headers.get("Authorization") or ""
    if auth.startswith("Bearer "):
        return auth[len("Bearer "):].strip()
    tok = headers.get("X-Auth-Token")
    return tok.strip() if tok else None


def _authorize(method: str, path: str, headers: Mapping[str, str],
               auth_token: str | None) -> tuple[int, Any] | None:
    """Gate mutating routes; None = allowed, else the refusal response.

    No configured token → the server is read-only (403 with the knob
    named). Configured token → constant-time compare against the
    presented header; missing/wrong → 401. Pure function so the policy
    is unit-testable without sockets (mirrors _route)."""
    if not _is_mutation(method, path):
        return None
    if auth_token is None:
        return 403, {"error": (
            "server is read-only: no auth token configured; start serve "
            "with --auth-token (or CORRELATIONAPI_AUTH_TOKEN) to enable "
            f"mutating routes like {method} {path}"
        )}
    presented = _presented_token(headers)
    # compare encoded bytes: compare_digest on str requires ASCII and
    # raises TypeError otherwise — and _authorize runs BEFORE the
    # handler's error-mapping try, so a garbled header would kill the
    # connection with no HTTP response instead of a 401
    if presented is None or not hmac.compare_digest(
        presented.encode("utf-8"), auth_token.encode("utf-8")
    ):
        return 401, {"error": "missing or invalid auth token"}
    return None


def _route(api: CorrelationAPI, method: str, path: str,
           query: dict[str, str], body: dict[str, Any]) -> tuple[int, Any]:
    """Pure routing function (unit-testable without sockets)."""
    if method == "GET" and path == "/health":
        return 200, {"status": "ok"}
    if method == "GET" and path == "/datasets":
        return 200, api.list_datasets()
    m = _VARIABLES_RE.match(path)
    if method == "GET" and m:
        return 200, api.variables(m.group(1))
    m = _DATASET_RE.match(path)
    if method == "POST" and m:
        _require(body, ("path",), 'body must contain "{}"')
        return 201, api.register_dataset(
            m.group(1), body["path"], fmt=body.get("format", "parquet")
        )
    if method == "POST" and path == "/similar":
        # raw query vectors don't fit a query string: the GET operation's
        # parameters plus an untyped "query_vectors" list in the body
        _require(body, ("dataset", "id", "vector", "query_vectors"),
                 'body must contain "{}"')
        return 200, _call(api, _BY_ROUTE["GET", "/similar"], body,
                          query_vectors=body["query_vectors"])
    op = _BY_ROUTE.get((method, path))
    if op is None:
        return 404, {"error": f"no route: {method} {path}"}
    if method == "GET":
        values, missing = query, "missing query parameter {!r}"
    else:
        values, missing = body, 'body must contain "{}"'
    _require(values, op.required, missing)
    res = _call(api, op, values)
    if op.name == "index_build":
        # 201 on first build, 200 when an existing index was replaced
        # in place (advice r10)
        return (200 if res.get("rebuilt") else 201), res
    return (201 if op.name == "psi_repin" else 200), res


def make_server(
    api: CorrelationAPI, host: str = "127.0.0.1", port: int = 0,
    auth_token: str | None = None,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; port 0 → ephemeral.

    ``auth_token=None`` (the default) serves read-only: mutating routes
    answer 403. Pass a token to enable them for callers presenting it."""

    class Handler(BaseHTTPRequestHandler):
        # quiet by default: the service log is the driver's job log
        def log_message(self, fmt: str, *args: Any) -> None:  # noqa: A002
            pass

        def _respond(self, status: int, payload: Any) -> None:
            raw = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(raw)))
            if status == 401:
                self.send_header("WWW-Authenticate", "Bearer")
            self.end_headers()
            self.wfile.write(raw)

        def _body(self) -> dict[str, Any]:
            length = self.headers.get("Content-Length") or "0"
            # digits only: int("abc") raises, and rfile.read(-1) would
            # block until the client hangs up
            if not length.isdigit():
                raise ValueError(f"bad Content-Length: {length!r}")
            if not int(length):
                return {}
            try:
                body = json.loads(self.rfile.read(int(length)))
            except ValueError:
                raise ValueError("request body is not JSON") from None
            if not isinstance(body, dict):
                raise ValueError("request body must be a JSON object")
            return body

        def _handle(self, method: str) -> None:
            parsed = urlparse(self.path)
            refused = _authorize(method, parsed.path, self.headers, auth_token)
            if refused is not None:
                self._respond(*refused)
                return
            query = {k: v[0] for k, v in parse_qs(parsed.query).items()}
            try:
                result = _route(api, method, parsed.path, query, self._body())
            except Exception as e:  # noqa: BLE001 - service boundary
                result = _error(e)
            self._respond(*result)

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            self._handle("GET")

        def do_POST(self) -> None:  # noqa: N802
            self._handle("POST")

    return ThreadingHTTPServer((host, port), Handler)


def serve(spark: SparkSession, host: str = "127.0.0.1", port: int = 8080,
          auth_token: str | None = None) -> None:
    """Blocking entry point: ``python -m correlationapi_spark serve``.

    With no ``--auth-token`` and no CORRELATIONAPI_AUTH_TOKEN env var the
    listener is read-only (mutating routes → 403)."""
    if auth_token is None:
        auth_token = os.environ.get("CORRELATIONAPI_AUTH_TOKEN") or None
    server = make_server(CorrelationAPI(spark), host, port, auth_token=auth_token)
    print(json.dumps({
        "listening": f"http://{host}:{server.server_address[1]}",
        "mutations": "enabled" if auth_token else "read-only",
    }))
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()
