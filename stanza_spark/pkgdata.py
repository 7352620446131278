"""The package's data files under ``stanza_spark/resources/``.

Readers go through the import system (``pkgutil.get_data``), so the
committed model weights load the same from a source checkout, an installed
wheel, or a zip shipped to executors with ``SparkContext.addPyFile``.
Only the trainers write, and only into a source checkout.
"""

from __future__ import annotations

import json
import os
import pkgutil


def load_json(name: str):
    """Parsed ``resources/<name>``."""
    return json.loads(pkgutil.get_data(__package__, f"resources/{name}"))


def resource_path(name: str) -> str:
    """Filesystem path of ``resources/<name>`` in a source checkout — the
    trainers' output target."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "resources", name)
