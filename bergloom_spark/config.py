"""Compaction configuration.

Mirrors the reference's ``CompactionConfig``
(``core/src/config/mod.rs:22-55``): same defaults, same semantics, plus
Spark-specific knobs the reference delegates to DataFusion.
"""

from __future__ import annotations

from dataclasses import dataclass

# Reference defaults (core/src/config/mod.rs:22-49).
DEFAULT_BATCH_PARALLELISM = 4
DEFAULT_TARGET_FILE_SIZE = 1024 * 1024 * 1024  # 1 GiB

# Rolling-writer thresholds (rolling_iceberg_writer.rs:75-95).
ROLL_MIN_FRACTION = 0.10   # don't roll before 10% of target written
ROLL_HARD_FRACTION = 1.50  # always roll if written+incoming > 150% of target
ROLL_SOFT_FRACTION = 0.70  # roll past target once >70% written

# Commit retry (compaction/mod.rs:454-462).
DEFAULT_COMMIT_RETRIES = 3
DEFAULT_RETRY_INITIAL_DELAY_S = 1.0
DEFAULT_RETRY_MAX_DELAY_S = 10.0


@dataclass
class CompactionConfig:
    """Knobs for a compaction run (reference ``config/mod.rs:36-55``)."""

    batch_parallelism: int = DEFAULT_BATCH_PARALLELISM
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE
    enable_validate_compaction: bool = False
    # Parquet codec: reference defaults to Snappy (config/mod.rs:29-34).
    write_compression: str = "snappy"
    # Commit semantics (compaction/mod.rs:546-566): new files keep the
    # starting snapshot's sequence number so later deletes still apply.
    use_starting_sequence_number: bool = True
    commit_retries: int = DEFAULT_COMMIT_RETRIES
    retry_initial_delay_s: float = DEFAULT_RETRY_INITIAL_DELAY_S
    retry_max_delay_s: float = DEFAULT_RETRY_MAX_DELAY_S
