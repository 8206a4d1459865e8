"""Workload shapes and the expected output of every op.

The expected values come from the sequential crawl oracle
(``mechaml_spark.frontier.oracle.crawl_oracle``), never from a Spark run.
``pins.json`` caches them for the seeds listed there; any other seed is
derived from the oracle when the run ends.

Regenerate the pins with ``python3 perfbench/expect.py`` from the repo root.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
PINNED_SEEDS = range(16)

# trickle: a resumable crawl advanced one epoch per op from a committed
# snapshot of BASE_EPOCHS epochs
TRICKLE = dict(n_hosts=32, pages_per_host=50, links_per_page=24,
               images_per_page=2)
TRICKLE_BUDGET = 8
BASE_EPOCHS = 1
# bulk: every page is a seed, one big two-epoch batch
BULK = dict(n_hosts=32, pages_per_host=60, links_per_page=24,
            images_per_page=2)
BULK_EPOCHS = 2


def trickle_spec(seed: int):
    from mechaml_spark.corpus import CorpusSpec

    return CorpusSpec(seed=seed, **TRICKLE)


def trickle_seeds(seed: int) -> list[str]:
    """One seed page per host, chosen by the workload seed."""
    from mechaml_spark.corpus import page_url

    spec = trickle_spec(seed)
    rng = random.Random(seed)
    return [page_url(spec, i, rng.randrange(spec.pages_per_host))
            for i in range(spec.n_hosts)]


def bulk_spec(seed: int):
    from mechaml_spark.corpus import CorpusSpec

    return CorpusSpec(seed=seed, **BULK)


def bulk_seed_urls(spec) -> list[str]:
    from mechaml_spark.corpus import page_url

    return [page_url(spec, i, j) for i in range(spec.n_hosts)
            for j in range(spec.pages_per_host)]


def visit_hash(rows) -> str:
    """Order-sensitive hash of the visit log in visit order: rows
    (epoch, depth, discovered_epoch, url_norm, final_url, status) joined
    by tabs, one per line. ``run.materialize`` builds the same text."""
    text = "\n".join("\t".join(str(v) for v in r) for r in sorted(rows))
    return hashlib.sha256(text.encode()).hexdigest()


def _outputs(res) -> dict:
    return {
        "visit_log": len(res.visit_log),
        "seen": len(res.seen),
        "payload": len(res.payload_ids),
        "jar": len(res.cookies),
        "visit_hash": visit_hash(res.visit_log),
    }


def derive(workload: str, seed: int) -> dict:
    """Expected outputs of one op, from the oracle."""
    from mechaml_spark.frontier.oracle import crawl_oracle

    if workload == "trickle":
        res = crawl_oracle(trickle_spec(seed), trickle_seeds(seed),
                           budget_per_host=TRICKLE_BUDGET,
                           max_epochs=BASE_EPOCHS + 1)
    elif workload == "bulk":
        spec = bulk_spec(seed)
        res = crawl_oracle(spec, bulk_seed_urls(spec),
                           budget_per_host=spec.pages_per_host,
                           max_epochs=BULK_EPOCHS)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return _outputs(res)


def _key(workload: str, seed: int) -> str:
    # bulk seeds every page, so only image bytes depend on the seed
    return "any" if workload == "bulk" else str(seed)


def expected(workload: str, seed: int) -> dict:
    with open(PINS) as f:
        pins = json.load(f)
    pin = pins.get(workload, {}).get(_key(workload, seed))
    return pin if pin is not None else derive(workload, seed)


def build_pins() -> dict:
    return {
        "trickle": {str(s): derive("trickle", s) for s in PINNED_SEEDS},
        "bulk": {"any": derive("bulk", 0)},
    }


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(PINS)))
    with open(PINS, "w") as f:
        json.dump(build_pins(), f, indent=1, sort_keys=True)
        f.write("\n")
