"""Engine configuration.

Defaults mirror the reference annotation config
(/root/reference/app/configs/default_config.yaml) where a setting has a
reference analog; scale-plumbing knobs (salting, shuffle sizing) are ours.
"""

from __future__ import annotations

import dataclasses


@dataclasses.dataclass(frozen=True)
class ExtractConfig:
    # entity definition (ref: default_config.yaml:31-33)
    max_heading_len: int = 150
    form_field_min_length: int = 4

    # document gates (ref: default_config.yaml:11-13, 41-42)
    min_text_chars: int = 200
    max_doc_spans: int = 1_000_000  # analog of max_doc_bytes/max_doc_pages

    # language id (ref: default_config.yaml:22-23)
    top_k_languages: int = 5

    # ---- scale plumbing (ours) ----
    # documents with more spans than this take the salted (chunked) path.
    # Measured tradeoff: the chunk/merge machinery costs ~6× the raw classify
    # time in extra Arrow/shuffle passes, and classification runs ~75-85
    # spans/ms-core (classify_document over the 2,000-doc sf0.01 table) —
    # so docs under ~150k spans are cheaper to classify in place (a ≤2s
    # task, no visible stall), while true outliers above it would
    # straggle a task for many seconds and win from chunking.
    salt_threshold: int = 150_000
    # target spans per salted chunk
    salt_chunk_spans: int = 8_000


DEFAULT_CONFIG = ExtractConfig()
