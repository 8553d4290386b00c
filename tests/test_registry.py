"""Registry order contract: ``specs()`` order is a pure function of the code
(``registry._MODULES`` position, then registration order), not of which
operator module happened to be imported first."""

import json
import os
import subprocess
import sys

from hadoop_distexec_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
{pre_import}
from hadoop_distexec_spark import registry
specs = registry.specs()
print(json.dumps({{
    "ids": [[q, s.fn.__module__] for q, s in specs.items()],
    "n_oracles": len(registry.oracle_sqls()),
}}))
"""


def _fresh_specs(pre_import: str = "") -> dict:
    code = _PROBE.format(repo=REPO, pre_import=pre_import)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_specs_order_independent_of_import_history():
    direct = _fresh_specs()
    # __spark_entry__.entry imports operators.relational before queries()
    entry_like = _fresh_specs("import hadoop_distexec_spark.operators.relational")
    assert direct == entry_like

    ids = [q for q, _ in direct["ids"]]
    assert len(ids) == 227
    assert len(set(ids)) == len(ids)
    assert direct["n_oracles"] == 225

    mods = [m for _, m in direct["ids"]]
    ranks = [registry._MODULES.index(m) for m in mods]
    assert ranks == sorted(ranks)
    n_manifest = mods.count("hadoop_distexec_spark.plans.manifest_plan")
    n_pipe = mods.count("hadoop_distexec_spark.pipe.queries")
    assert n_manifest > 0 and n_pipe > 0
    assert set(mods[:n_manifest]) == {"hadoop_distexec_spark.plans.manifest_plan"}
    assert set(mods[n_manifest : n_manifest + n_pipe]) == {
        "hadoop_distexec_spark.pipe.queries"
    }
