"""Seeded workload inputs, built outside the timed region and cached.

Every generator is a pure function of ``(seed, size)``: the program under
test only ever sees the parquet file written here, and the expectations the
output checks compare against stay on the benchmark side.

- ``images``: the library's own image+caption generator
  (``sources.synthetic.generate_rows``) at the given seed. Program input is
  the seven image columns; the planted ``expected_keep`` /
  ``expected_scrubbed`` labels are kept as expectations.
- ``rules``: a flat+nested table (``items: array<struct>``) with planted
  per-rule defects, plus the expected ``(evaluated, passing)`` count and the
  set of failing row ids for every rule of ``RULES_YAML``.
- ``dedup``: a document corpus with planted near-duplicate clusters (one
  word substituted per copy) and the member ids of every cluster.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import unicodedata
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

@dataclass
class Inputs:
    """One built workload input: the parquet the program reads and the
    expectations the checks read."""

    path: str
    rows: int
    in_bytes: int
    expected: dict
    yaml_path: str | None = None


def _cache_key(kind: str, seed: int, size: int) -> str:
    return f"{kind}-v{GENERATOR_VERSION}-s{seed}-n{size}"


def build(kind: str, seed: int, size: int, cache_dir: Path) -> Inputs:
    """Build (or reuse) the inputs for ``kind`` at ``seed`` and ``size``."""
    out = Path(cache_dir) / _cache_key(kind, seed, size)
    meta_path = out / "expected.json"
    if not meta_path.exists():
        out.mkdir(parents=True, exist_ok=True)
        table, expected, extra = GENERATORS[kind](seed, size)
        pq.write_table(table, out / "input.parquet", compression="zstd")
        for name, text in extra.items():
            (out / name).write_text(text)
        tmp = out / "expected.json.tmp"
        tmp.write_text(json.dumps(expected))
        tmp.replace(meta_path)
    expected = json.loads(meta_path.read_text())
    data = out / "input.parquet"
    yaml_path = out / "rules.yaml"
    return Inputs(
        path=str(data),
        rows=pq.ParquetFile(data).metadata.num_rows,
        in_bytes=data.stat().st_size,
        expected=expected,
        yaml_path=str(yaml_path) if yaml_path.exists() else None,
    )


# ---------------------------------------------------------------------------
# images (filter, filter_job)
# ---------------------------------------------------------------------------

_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def caption_key(caption: str | None) -> str | None:
    """Python mirror of ``functions.text.fingerprint``'s normalisation:
    ``lower(trim)`` (Spark's trim strips spaces only), drop Unicode
    punctuation and symbols, collapse Java ``\\s`` runs to one space."""
    if caption is None:
        return None
    text = caption.strip(" ").lower()
    text = "".join(ch for ch in text if unicodedata.category(ch)[0] not in "PS")
    return _JAVA_SPACE.sub(" ", text)


def _images(seed: int, size: int):
    from gchq_data_quality_spark.sources.synthetic import generate_rows

    rows = generate_rows(size, seed=seed)
    table = pa.table(
        {
            "image_id": pa.array([r.image_id for r in rows], pa.string()),
            "bytes": pa.array([r.bytes for r in rows], pa.binary()),
            "w": pa.array([r.w for r in rows], pa.int32()),
            "h": pa.array([r.h for r in rows], pa.int32()),
            "fmt": pa.array([r.fmt for r in rows], pa.string()),
            "caption": pa.array([r.caption for r in rows], pa.string()),
            "phash": pa.array([r.phash for r in rows], pa.int64()),
        }
    )
    # --dedup exact keeps the lowest image_id of each caption-key group;
    # NULL captions are never deduplicated
    first: dict[str, str] = {}
    for r in rows:
        key = caption_key(r.caption)
        if key is not None and (key not in first or r.image_id < first[key]):
            first[key] = r.image_id
    survivors = [
        r for r in rows if r.caption is None or first[caption_key(r.caption)] == r.image_id
    ]
    expected = {
        "keep": {r.image_id: r.expected_keep for r in rows},
        "scrubbed": {r.image_id: r.expected_scrubbed for r in rows},
        "n_keep": sum(r.expected_keep for r in rows),
        "job_written_ids": sorted(r.image_id for r in survivors if r.expected_keep),
        "job_rows_after_dedup": len(survivors),
        "caption_dup_share": 1 - len(survivors) / len(rows),
    }
    return table, expected, {}


# ---------------------------------------------------------------------------
# rules
# ---------------------------------------------------------------------------

RULES_YAML = """\
dataset_name: orders
rules:
  - {function: completeness, field: customer, rule_id: customer_present}
  - function: validity_regex
    field: email
    regex_pattern: "[a-z0-9.]+@[a-z]+\\\\.(com|org|net)$"
    rule_id: email_shape
  - {function: validity_regex, field: code, regex_pattern: "[A-Z]{3}-[0-9]{4}$", rule_id: code_shape}
  - {function: accuracy, field: status, valid_values: [new, active, closed], rule_id: status_known}
  - {function: validity_numerical_range, field: amount, min_value: 0, max_value: 10000, rule_id: amount_range}
  - function: consistency
    field: amount
    expression: {if: "`status` == 'closed'", then: "`amount` > 0"}
    rule_id: closed_has_amount
  - {function: timeliness_static, field: ts, start_date: "2024-01-01", end_date: "2024-12-31", rule_id: ts_in_2024}
  - {function: uniqueness, field: order_ref, rule_id: order_ref_unique}
  - {function: completeness, field: "items[*].price", rule_id: item_price_present}
  - {function: validity_regex, field: "items[*].sku", regex_pattern: "SKU[0-9]{5}$", rule_id: item_sku_shape}
  - {function: validity_numerical_range, field: "items[*].qty", min_value: 1, max_value: 100, rule_id: item_qty_range}
  - {function: accuracy, field: "items[*].currency", valid_values: [GBP, USD, EUR], rule_id: item_currency_known}
"""

# planted defect rate per rule (rows or items hit)
_RULE_DEFECT_RATE = 0.02
_STATUSES = np.array(["new", "active", "closed"])


def _rules(seed: int, size: int):
    rng = np.random.default_rng(seed)
    n = size
    ids = np.arange(n, dtype=np.int64)

    def hit(count: int = n) -> np.ndarray:
        return rng.random(count) < _RULE_DEFECT_RATE

    customer_null = hit()
    customer = [None if m else f"cust{int(i) % 5000:05d}" for i, m in zip(ids, customer_null)]

    email_null, email_bad = hit(), hit()
    email = [
        None if en else (f"user{i}#mail.com" if eb else f"user.{i}@mail.{('com', 'org', 'net')[i % 3]}")
        for i, en, eb in zip(ids.tolist(), email_null, email_bad)
    ]
    code_bad = hit()
    letters = rng.integers(0, 26, size=(n, 3))
    digits = rng.integers(0, 10000, n)
    code = [
        ("".join(chr(97 + c) for c in lt) if bad else "".join(chr(65 + c) for c in lt)) + f"-{d:04d}"
        for lt, d, bad in zip(letters.tolist(), digits.tolist(), code_bad)
    ]
    status_bad = hit()
    status_idx = rng.integers(0, 3, n)
    status = np.where(status_bad, "unknown", _STATUSES[status_idx])

    amount_null, amount_bad = hit(), hit()
    amount = rng.uniform(1.0, 9999.0, n).round(2)
    amount = np.where(amount_bad, -amount, amount)
    amount_list = [None if m else float(a) for a, m in zip(amount.tolist(), amount_null)]

    ts_bad = hit()
    day = rng.integers(1, 364, n)  # 2024-01-02 .. 2024-12-29, never on a bound
    year_shift = np.where(rng.random(n) < 0.5, -366, 366)
    day = np.where(ts_bad, day + year_shift, day)
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(days=int(d), seconds=int(s)) for d, s in zip(day, rng.integers(0, 86400, n))]

    dup = hit()
    order_ref = [f"ord{i:09d}" for i in ids.tolist()]
    dup_src = rng.integers(0, n, n)
    for i in np.flatnonzero(dup):
        order_ref[i] = order_ref[int(dup_src[i]) if dup_src[i] < i else 0]

    n_items = rng.integers(1, 5, n)
    total_items = int(n_items.sum())
    price_null, sku_bad, qty_bad, cur_bad = hit(total_items), hit(total_items), hit(total_items), hit(total_items)
    price = rng.uniform(0.5, 500.0, total_items).round(2)
    sku_num = rng.integers(0, 100000, total_items)
    qty = rng.integers(1, 101, total_items)
    qty = np.where(qty_bad, qty + 100, qty)
    currency = np.array(["GBP", "USD", "EUR"])[rng.integers(0, 3, total_items)]
    currency = np.where(cur_bad, "XXX", currency)
    items = []
    item_row = np.repeat(ids, n_items)
    offsets = np.concatenate(([0], np.cumsum(n_items)))
    for r in range(n):
        row_items = []
        for j in range(offsets[r], offsets[r + 1]):
            row_items.append(
                {
                    "sku": (f"SKX{int(sku_num[j]):05d}" if sku_bad[j] else f"SKU{int(sku_num[j]):05d}"),
                    "qty": int(qty[j]),
                    "price": None if price_null[j] else float(price[j]),
                    "currency": str(currency[j]),
                }
            )
        items.append(row_items)

    item_type = pa.list_(
        pa.struct(
            [("sku", pa.string()), ("qty", pa.int32()), ("price", pa.float64()), ("currency", pa.string())]
        )
    )
    table = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "customer": pa.array(customer, pa.string()),
            "email": pa.array(email, pa.string()),
            "code": pa.array(code, pa.string()),
            "status": pa.array(status.tolist(), pa.string()),
            "amount": pa.array(amount_list, pa.float64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "order_ref": pa.array(order_ref, pa.string()),
            "items": pa.array(items, item_type),
        }
    )

    # expected (evaluated, passing) per rule, and the failing row ids
    amount_ok = ~amount_null & ~amount_bad
    closed = status == "closed"
    counts = {}
    failing = {}

    def rule(rid, evaluated, passing, unit_rows=None):
        fail = evaluated & ~passing
        counts[rid] = [int(evaluated.sum()), int((evaluated & passing).sum())]
        rows = ids[fail] if unit_rows is None else np.unique(unit_rows[fail])
        failing[rid] = rows.tolist()

    every = np.ones(n, bool)
    rule("customer_present", every, ~customer_null)
    rule("email_shape", ~email_null, ~email_bad)
    rule("code_shape", every, ~code_bad)
    rule("status_known", every, ~status_bad)
    rule("amount_range", ~amount_null, ~amount_bad)
    rule("closed_has_amount", closed, amount_ok)
    rule("ts_in_2024", every, ~ts_bad)
    every_item = np.ones(total_items, bool)
    rule("item_price_present", every_item, ~price_null, item_row)
    rule("item_sku_shape", every_item, ~sku_bad, item_row)
    rule("item_qty_range", every_item, ~qty_bad, item_row)
    rule("item_currency_known", every_item, ~cur_bad, item_row)
    refs, ref_counts = np.unique(np.array(order_ref), return_counts=True)
    counts["order_ref_unique"] = [n, int(len(refs))]
    failing["order_ref_unique"] = sorted(refs[ref_counts > 1].tolist())
    return table, {"counts": counts, "failing": failing}, {"rules.yaml": RULES_YAML}


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 20000
_DOC_WORDS = (60, 100)
_CLUSTER_SHARE = 0.10  # share of documents that are planted edited copies


def _vocabulary(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, _VOCAB_SIZE)
    return ["".join(letters[rng.integers(0, 26, k)]) for k in lengths]


def _dedup(seed: int, size: int):
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    n_copies = int(size * _CLUSTER_SHARE)
    n_base = size - n_copies
    docs = [
        rng.integers(0, _VOCAB_SIZE, int(rng.integers(*_DOC_WORDS))).tolist()
        for _ in range(n_base)
    ]
    # copies attach to random sources: clusters of 2-8 documents, mostly 2-3
    n_sources = max(n_copies // 2, 1)
    sources = rng.choice(n_base, n_sources, replace=False)
    owner = sources[rng.integers(0, n_sources, n_copies)]
    clusters: dict[int, list[int]] = {int(s): [int(s)] for s in sources}
    for src in owner.tolist():
        words = list(docs[src])
        pos = int(rng.integers(0, len(words)))
        words[pos] = int(rng.integers(0, _VOCAB_SIZE))  # one substituted word
        clusters[src].append(len(docs))
        docs.append(words)
    # shuffle so cluster members are spread over the id space
    perm = rng.permutation(len(docs))
    ids = np.empty(len(docs), dtype=np.int64)
    ids[perm] = np.arange(len(docs))
    texts = [" ".join(vocab[w] for w in words) for words in docs]
    order = np.argsort(ids)
    table = pa.table(
        {
            "id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    groups = [sorted(int(ids[m]) for m in members) for members in clusters.values() if len(members) > 1]
    dropped = sorted(i for g in groups for i in g[1:])
    expected = {
        "clusters": groups,
        "dropped": dropped,
        "near_dup_share": len(dropped) / len(docs),
    }
    return table, expected, {}


GENERATORS = {"images": _images, "rules": _rules, "dedup": _dedup}

