"""Job configuration model (SURVEY §1.1c — reference parity).

The reference merges an optional JSON config file over built-in defaults
(/root/reference/text_extractor.py:778-803): a *shallow* ``dict.update``
(a user section replaces the default section wholesale), with a warning
— never an error — when the file is missing or unparsable. This module
reproduces that contract for the Spark job's knobs; CLI flags override
config values (scripts/run_extract.py), mirroring how the reference CLI
overrides ``batch.max_workers`` (/root/reference/cli.py:484-488).
"""

from __future__ import annotations

import json
import logging
import os
from typing import Any

logger = logging.getLogger(__name__)

# reference default_config analog (text_extractor.py:780-795); sections
# renamed to their Spark equivalents documented in SURVEY §2:
# ocr.confidence_threshold → extract.confidence_threshold (P6),
# batch.max_workers → the session's cores (sources/session.py),
# batch.chunk_size → the session's fixed 1024-row Arrow batch (C3),
# database.path → warehouse.path (K1)
DEFAULT_CONFIG: dict[str, dict[str, Any]] = {
    "extract": {
        "confidence_threshold": 0.5,   # text_extractor.py:784 (P6)
        "max_payload_chars": 2_000_000,  # operators/extract.py reads it
    },
    "ocr": {
        # reference ocr.default_engine analog (text_extractor.py:782):
        # engine used by the scanned-PDF P3 fallback; 'auto' applies the
        # size heuristics, 'none' disables the fallback
        "fallback_engine": "auto",
        "preprocess": True,            # text_extractor.py:783
    },
    "warehouse": {
        "path": "warehouse",           # database.path analog
    },
    "job": {
        "n_buckets": 32,               # plans/pipeline.py reads it
        "resume": True,
    },
}


def load_config(config_path: str | None = None) -> dict[str, dict[str, Any]]:
    """Defaults shallow-updated by the JSON file at ``config_path``
    (reference _load_config contract: missing/bad file → warn + defaults)."""
    config = {k: dict(v) for k, v in DEFAULT_CONFIG.items()}
    if config_path:
        if not os.path.exists(config_path):
            # a typo'd --config silently running on defaults is a
            # wrong-output run with nothing in the logs — warn, as the
            # reference contract promises
            logger.warning("Config file not found: %s — using defaults",
                           config_path)
            return config
        try:
            with open(config_path) as f:
                user_config = json.load(f)
            config.update(user_config)  # shallow, as text_extractor.py:799
        except Exception as e:  # noqa: BLE001 — reference warns, never raises
            logger.warning("Failed to load config: %s", e)
    return config
