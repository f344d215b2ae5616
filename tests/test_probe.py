"""``scripts/probe.py`` times the snapshot-protocol helpers it names in
``HELPERS`` by looking each one up at start: a renamed helper must be
renamed there too, or the probe fails before it runs a query."""

from __future__ import annotations

import importlib
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_probe_helper_resolves():
    spec = importlib.util.spec_from_file_location(
        "probe", os.path.join(REPO, "scripts", "probe.py")
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)
    missing = [
        f"{mod_name}.{name}"
        for mod_name, names in probe.HELPERS.items()
        for name in names
        if not callable(
            getattr(
                importlib.import_module(
                    f"dock_financial_data_pipelines_spark.{mod_name}"
                ),
                name,
                None,
            )
        )
    ]
    assert missing == []
