"""Output checks. Each returns a list of error strings; empty means correct.

They work on plain Python data (the benchmark reads the written parquet
with pyarrow, outside Spark), so a test can corrupt an output and see the
check reject it.
"""

from __future__ import annotations

import datetime as dt
import re

MAX_ERRORS = 5


def _cap(errors: list[str]) -> list[str]:
    if len(errors) > MAX_ERRORS:
        return errors[:MAX_ERRORS] + [f"... {len(errors) - MAX_ERRORS} more"]
    return errors


def check_filter(
    written: dict, n_rows: int, audit: dict, flag_counts: dict, expected: dict
) -> list[str]:
    """``written``: image_id -> (keep, caption_scrubbed) of the ``n_rows``
    written rows; ``audit``: the report's ``kept``/``total`` plus per-rule
    ``(evaluated, passing)``; ``flag_counts``: the same per-rule counts
    summed from the written flag columns."""
    errors = []
    keep, scrubbed = expected["keep"], expected["scrubbed"]
    if n_rows != len(keep) or written.keys() != keep.keys():
        errors.append(f"written ids differ from input ids ({n_rows} rows vs {len(keep)})")
    for image_id, (k, s) in written.items():
        if image_id not in keep:
            continue
        if k != keep[image_id]:
            errors.append(f"{image_id}: keep={k}, planted {keep[image_id]}")
        if s != scrubbed[image_id]:
            errors.append(f"{image_id}: caption_scrubbed={s!r}, planted {scrubbed[image_id]!r}")
    if audit["kept"] != expected["n_keep"] or audit["total"] != len(keep):
        errors.append(
            f"audit kept/total {audit['kept']}/{audit['total']}, "
            f"planted {expected['n_keep']}/{len(keep)}"
        )
    if audit["rules"] != flag_counts:
        errors.append(f"audit rule counts {audit['rules']} != written flags {flag_counts}")
    return _cap(errors)


def check_filter_job(written_ids: list, audit: dict, expected: dict) -> list[str]:
    """``written_ids``: every image_id in the keep-only output;
    ``audit``: the audit table's ``kept``/``total`` and per-rule
    ``records_evaluated``."""
    errors = []
    want = expected["job_written_ids"]
    got = sorted(written_ids)
    if got != want:
        extra = sorted(set(got) - set(want))[:3]
        missing = sorted(set(want) - set(got))[:3]
        errors.append(
            f"written ids: {len(got)} vs planted {len(want)} "
            f"(extra {extra}, missing {missing}, repeated {len(got) - len(set(got))})"
        )
    total = expected["job_rows_after_dedup"]
    if audit["kept"] != len(want) or audit["total"] != total:
        errors.append(f"audit kept/total {audit['kept']}/{audit['total']}, planted {len(want)}/{total}")
    for rid, evaluated in audit["evaluated"].items():
        if not 0 <= evaluated <= total:
            errors.append(f"audit {rid}: records_evaluated {evaluated} outside [0, {total}]")
    return _cap(errors)


_TS_LO = dt.datetime(2024, 1, 1)
_TS_HI = dt.datetime(2024, 12, 31)


def _naive(value):
    return value.replace(tzinfo=None) if getattr(value, "tzinfo", None) else value


# does one sampled record fail its rule? (mirrors RULES_YAML)
FAILS = {
    "customer_present": lambda r: r["customer"] is None,
    "email_shape": lambda r: re.match(r"(?:[a-z0-9.]+@[a-z]+\.(com|org|net)$)", r["email"]) is None,
    "code_shape": lambda r: re.match(r"(?:[A-Z]{3}-[0-9]{4}$)", r["code"]) is None,
    "status_known": lambda r: r["status"] not in ("new", "active", "closed"),
    "amount_range": lambda r: not 0 <= r["amount"] <= 10000,
    "closed_has_amount": lambda r: r["status"] == "closed" and not (r["amount"] is not None and r["amount"] > 0),
    "ts_in_2024": lambda r: not _TS_LO <= _naive(r["ts"]) <= _TS_HI,
    "item_price_present": lambda r: r["items[*].price"] is None,
    "item_sku_shape": lambda r: re.match(r"(?:SKU[0-9]{5}$)", r["items[*].sku"]) is None,
    "item_qty_range": lambda r: not 1 <= r["items[*].qty"] <= 100,
    "item_currency_known": lambda r: r["items[*].currency"] not in ("GBP", "USD", "EUR"),
}


def check_rules(results: list[dict], expected: dict) -> list[str]:
    """``results``: one dict per rule with ``rule_id``, ``records_evaluated``,
    ``pass_rate``, ``records_failed_sample`` and ``records_failed_ids``."""
    errors = []
    counts, failing = expected["counts"], expected["failing"]
    seen = {r["rule_id"] for r in results}
    if seen != counts.keys():
        errors.append(f"rules reported {sorted(seen)} != configured {sorted(counts)}")
    for r in results:
        rid = r["rule_id"]
        if rid not in counts:
            continue
        evaluated, passing = counts[rid]
        want_rate = passing / evaluated if evaluated else None
        if r["records_evaluated"] != evaluated:
            errors.append(f"{rid}: evaluated {r['records_evaluated']}, planted {evaluated}")
        if r["pass_rate"] is None or want_rate is None:
            if r["pass_rate"] != want_rate:
                errors.append(f"{rid}: pass_rate {r['pass_rate']}, planted {want_rate}")
        elif round(r["pass_rate"] * evaluated) != passing or abs(r["pass_rate"] - want_rate) > 1e-12:
            errors.append(f"{rid}: pass_rate {r['pass_rate']}, planted {passing}/{evaluated}")
        if passing == evaluated:
            continue
        sample = r["records_failed_sample"] or []
        if not sample:
            errors.append(f"{rid}: failing rule without a sample")
        bad_ids = set(failing[rid])
        if rid == "order_ref_unique":
            for rec in sample:
                if rec["order_ref"] not in bad_ids:
                    errors.append(f"{rid}: sampled value {rec['order_ref']!r} is not duplicated")
            continue
        for rec in sample:
            if not FAILS[rid](rec):
                errors.append(f"{rid}: sampled record {rec} passes the rule")
        ids = r["records_failed_ids"] or []
        if not ids:
            errors.append(f"{rid}: failing rule without failed ids")
        for i in ids:
            if i not in bad_ids:
                errors.append(f"{rid}: failed id {i} is not a planted defect")
    return _cap(errors)


def check_dedup(input_ids: list, written_ids: list, expected: dict) -> list[str]:
    """The dropped ids are exactly the non-minimum members of the planted
    clusters, and nothing is written twice."""
    errors = []
    if len(written_ids) != len(set(written_ids)):
        errors.append(f"{len(written_ids) - len(set(written_ids))} ids written twice")
    if not set(written_ids) <= set(input_ids):
        errors.append(f"written ids not in the input: {sorted(set(written_ids) - set(input_ids))[:3]}")
    dropped = sorted(set(input_ids) - set(written_ids))
    want = expected["dropped"]
    if dropped != want:
        extra = sorted(set(dropped) - set(want))[:3]
        missed = sorted(set(want) - set(dropped))[:3]
        errors.append(
            f"dropped {len(dropped)} ids, planted {len(want)} "
            f"(wrongly dropped {extra}, missed duplicates {missed})"
        )
    return _cap(errors)
