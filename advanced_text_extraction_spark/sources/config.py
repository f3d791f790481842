"""Job configuration model (SURVEY §1.1c — reference parity).

``load_config`` merges an optional JSON file over built-in defaults as
the reference does (text_extractor.py:778-803): a *shallow*
``dict.update``, and a warning — never an error — when the file is
missing or unparsable. The four settings that change a row's
extraction are one frozen :class:`ExtractOptions`, whose defaults are
their only definition; the job passes one such value down to the
kernel (other entry points get the defaults), and lineage records it.
CLI flags override config values (scripts/run_extract.py), as the
reference CLI overrides ``batch.max_workers`` (cli.py:484-488).
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import asdict, dataclass
from typing import Any

logger = logging.getLogger(__name__)


@dataclass(frozen=True)
class ExtractOptions:
    """How every row of one run is extracted. ``ocr_fallback_engine`` runs
    the scanned-PDF P3 fallback (text_extractor.py:782; ``None``: off);
    an OCR result below ``ocr_confidence_threshold`` (:784) is rejected
    and the short text layer kept; ``ocr_preprocess`` is :783. A payload
    over ``max_payload_chars`` is truncated and flagged in metadata."""
    ocr_fallback_engine: str | None = "auto"
    ocr_preprocess: bool = True
    ocr_confidence_threshold: float = 0.5
    max_payload_chars: int = 2_000_000

    @classmethod
    def from_config(cls, cfg: dict[str, dict[str, Any]]) -> ExtractOptions:
        """The options of a merged config, each missing key at its default
        (a shallow merge keeps partial sections); engine ``'none'``/``''``
        disables OCR."""
        ocr, ext, d = cfg.get("ocr", {}), cfg.get("extract", {}), cls()
        engine = ocr.get("fallback_engine", d.ocr_fallback_engine)
        return cls(
            ocr_fallback_engine=None if engine in ("none", "") else engine,
            ocr_preprocess=bool(ocr.get("preprocess", d.ocr_preprocess)),
            ocr_confidence_threshold=float(ext.get(
                "confidence_threshold", d.ocr_confidence_threshold)),
            max_payload_chars=int(ext.get(
                "max_payload_chars", d.max_payload_chars)))

    def to_json(self) -> str:
        """Sorted-key JSON: the lineage stamp the resume probe matches."""
        return json.dumps(asdict(self), sort_keys=True)


_OPTIONS = ExtractOptions()

# reference default_config analog (text_extractor.py:780-795); sections
# renamed to their Spark equivalents documented in SURVEY §2:
# ocr.confidence_threshold → extract.confidence_threshold (P6),
# batch.max_workers → the session's cores (sources/session.py),
# batch.chunk_size → the session's fixed 1024-row Arrow batch (C3),
# database.path → warehouse.path (K1).
# The extract/ocr entries mirror ExtractOptions' defaults and no code
# reads them (from_config falls back to the class): they are kept so
# the dict load_config returns shows every config key, as the
# reference's default_config does, and the shallow merge replaces a
# section the way the reference's does.
DEFAULT_CONFIG: dict[str, dict[str, Any]] = {
    "extract": {
        "confidence_threshold": _OPTIONS.ocr_confidence_threshold,
        "max_payload_chars": _OPTIONS.max_payload_chars,
    },
    "ocr": {
        "fallback_engine": _OPTIONS.ocr_fallback_engine,
        "preprocess": _OPTIONS.ocr_preprocess,
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
