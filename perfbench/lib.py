"""Pure helpers of the benchmark: the seeded input window, percentiles,
output digests and the metrics computed from the harness's result file."""
import math
import random
import shutil
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# one block holds 16 orders (ChainFixture.TxPerBlock); windows start on a
# block boundary so the first and last blocks are whole
BLOCK = 16
COUNTS = ["jobs", "tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes"]


# ── input ───────────────────────────────────────────────────────────────

def window(seed: int, size: int, n_keys: int) -> tuple:
    """The [lo, hi) orderkey window a seed picks: `size` keys starting on
    a block boundary somewhere in [0, n_keys)."""
    if size > n_keys:
        raise ValueError(f"window of {size} keys exceeds the {n_keys} keys of the source")
    starts = (n_keys - size) // BLOCK + 1
    lo = random.Random(seed).randrange(starts) * BLOCK
    return lo, lo + size


def cut_input(source: Path, dest: Path, seed: int, size: int) -> dict:
    """Writes the input the program sees: `lineitem` and `orders` cut to
    the seed's orderkey window, every other table copied unchanged."""
    dest.mkdir(parents=True, exist_ok=True)
    orders = pq.read_table(source / "orders.parquet")
    n_keys = pc.max(orders["o_orderkey"]).as_py() + 1
    lo, hi = window(seed, size, n_keys)
    rows = {}
    for name, key, table in (("orders", "o_orderkey", orders),
                             ("lineitem", "l_orderkey", None)):
        t = table if table is not None else pq.read_table(source / f"{name}.parquet")
        k = t[key]
        t = t.filter(pc.and_(pc.greater_equal(k, lo), pc.less(k, hi)))
        pq.write_table(t, dest / f"{name}.parquet")
        rows[name] = t.num_rows
    for name in TABLES:
        if name not in rows:
            shutil.copyfile(source / f"{name}.parquet", dest / f"{name}.parquet")
    return {"orderkey_lo": lo, "orderkey_hi": hi, "blocks": size // BLOCK,
            "lineitem_rows": rows["lineitem"], "orders_rows": rows["orders"]}


# ── statistics ──────────────────────────────────────────────────────────

def percentile(values, q: float) -> float:
    """The q-quantile (0 <= q <= 1) by linear interpolation between the
    closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q
    i = int(math.floor(pos))
    j = min(i + 1, len(xs) - 1)
    return xs[i] + (xs[j] - xs[i]) * (pos - i)


def beyond(values, q: float) -> int:
    """How many samples lie strictly above the q-quantile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


# ── output digests ──────────────────────────────────────────────────────

def _close(a, b, scale: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b or abs(a - b) <= 1e-9 * scale + 1e-12


def digest_diff(ref: dict, got: dict):
    """Why digest `got` differs from the reference, or None when they match.
    The row count and the hash of the non-float columns must be equal; each
    float column's sum and sum of magnitudes must agree to a relative
    1e-9 of the larger magnitude sum, as tools/check.py compares floats."""
    if ref["rows"] != got["rows"]:
        return f"rows {got['rows']} != {ref['rows']}"
    if ref["hash"] != got["hash"]:
        return "hash of the non-float columns differs"
    if set(ref["floats"]) != set(got["floats"]):
        return "float columns differ"
    for col, (s1, a1, n1) in ref["floats"].items():
        s2, a2, n2 = got["floats"][col]
        scale = max(abs(a1 or 0.0), abs(a2 or 0.0))
        if n1 != n2 or not _close(s1, s2, scale) or not _close(a1, a2, scale):
            return f"float column {col}: ({s2}, {a2}, {n2}) != ({s1}, {a1}, {n1})"
    return None


# ── metrics ─────────────────────────────────────────────────────────────

SETUP_ROLES = ("warm", "setup")


def judge(res: dict) -> dict:
    """Checks every operation after set-up against the reference digests of
    the dumped outputs. Returns attempted/failed counts and the reason of
    each failure; an operation's `ok` is set on the way."""
    ref = {}
    for op in res["ops"]:
        ref.update(op.get("dump_digests") or {})
        if op["role"] in SETUP_ROLES and op.get("error"):
            raise RuntimeError(f"set-up operation {op['name']} failed: {op['error']}")
    attempted, failures = 0, []
    for op in res["ops"]:
        if op["role"] in SETUP_ROLES:
            continue
        attempted += 1
        got = op.get("digests") or {}
        why = op.get("error")
        if why is None and set(got) != ({op["name"]} if op["kind"] == "query" else set(ref)):
            why = f"consumed {sorted(got)}, expected {sorted(ref)}"
        for q in sorted(got):
            if why is None and q in ref:
                diff = digest_diff(ref[q], got[q])
                why = diff and f"{q}: {diff}"
        op["ok"] = why is None
        if why:
            failures.append(f"{op['name']}: {why}")
    return {"attempted": attempted, "failed": len(failures), "failures": failures}


def timed_walls(res: dict) -> list:
    return [op["wall_s"] for op in res["ops"] if op["role"] == "timed" and op["ok"]]


def end_to_end(res: dict) -> dict:
    """The user-visible metrics of one run (--trace 0)."""
    walls = timed_walls(res)
    if not walls:
        raise RuntimeError("no timed operation succeeded")
    return {"setup_s": (res["setup_s"], "s"), "op_p50_s": (percentile(walls, 0.5), "s")}


def coverage(op: dict):
    """Share of an operation's wall time its spans cover, and the largest
    uncovered gap as (seconds, span before it, span after it)."""
    covered, t, prev, gap = 0.0, 0.0, "start", (0.0, "start", "end")
    for layer, kind, q, s, e in sorted(op["spans"], key=lambda x: x[3]):
        name = f"{layer}.{kind} {q}".strip()
        if s - t > gap[0]:
            gap = (s - t, prev, name)
        covered += max(0.0, e - max(s, t))
        if e > t:
            t, prev = e, name
    if op["wall_s"] - t > gap[0]:
        gap = (op["wall_s"] - t, prev, "end")
    return covered / op["wall_s"], gap


def per_layer(res: dict, modules=()) -> dict:
    """The per-layer metrics of a traced run (--trace 1): span times and
    Spark's counts of the traced ops (for tip_stream these include the
    store build of its set-up). Every workload reports the same names; a
    layer the workload does not reach reads 0. analyst_warm adds its
    `analyst.*` metrics. The tracing overhead compares the traced unit
    with the same unit run untraced right after it, when the JIT has had
    one unit more to warm up."""
    traced = [op for op in res["ops"] if op["traced"]]
    unit = [op for op in traced if op["role"] == "traced"]
    ref = [op for op in res["ops"] if op["role"] == "ref"]
    analyst = res["workload"] == "analyst_warm"
    m = {}

    def put(name, value, unit_name):
        m[name] = (value, unit_name)

    def tot(layer, kind):
        return sum(e - s for op in traced for l, k, _, s, e in op["spans"]
                   if l == layer and k == kind)

    put("materialize.traces_s", tot("materialize", "traces"), "s")
    put("classify.actions_s", tot("classify", "actions"), "s")
    put("account.headers_s", tot("account", "headers"), "s")
    put("materialize.store_files", sum(op.get("store_files", 0) for op in traced), "count")
    put("materialize.store_bytes", sum(op.get("store_bytes", 0) for op in traced), "bytes")
    layers = ["inspect", "price", "compose", "tip"] + (["analyst"] if analyst else [])
    for layer in layers:
        for kind in ("build", "plan", "run"):
            put(f"{layer}.{kind}_s", tot(layer, kind), "s")
    tip_ops = [op for op in unit if op["kind"] == "tip"]
    batches = [p for op in tip_ops for p in op.get("progress", [])]
    for part in ("triggerExecution", "addBatch", "walCommit", "queryPlanning"):
        vals = [p.get(part, 0) / 1e3 for p in batches]
        put(f"tip.batch.{part}_s", percentile(vals, 0.5) if vals else 0.0, "s")
    put("tip.batches", len(batches), "count")
    put("tip.prep_s", sum(op["wall_s"] for op in tip_ops)
        - sum(p.get("triggerExecution", 0) / 1e3 for p in batches), "s")
    put("tip.storage_bytes_after", sum(op.get("storage_bytes_after", 0) for op in tip_ops), "bytes")
    put("tip.cached_rdds_after", sum(op.get("cached_rdds_after", 0) for op in tip_ops), "count")
    if analyst:
        for mod in modules:
            put(f"analyst.{mod}_s", sum(op["wall_s"] for op in unit if op.get("module") == mod), "s")
        put("analyst.storage_bytes_after", unit[-1].get("storage_bytes_after", 0) if unit else 0,
            "bytes")
    for layer in ["materialize", "classify", "account"] + layers:
        c = res["counts"].get(layer, {})
        for k in COUNTS:
            put(f"{layer}.{k}", c.get(k, 0), "bytes" if k.endswith("bytes") else "count")
    put("trace.overhead_s", sum(op["wall_s"] for op in unit) - sum(op["wall_s"] for op in ref), "s")
    put("trace.span_coverage", min((coverage(op)[0] for op in unit), default=0.0), "ratio")
    return m
