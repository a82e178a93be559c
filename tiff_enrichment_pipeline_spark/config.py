"""Submit-time-validated job configuration (SURVEY.md §1.1).

The reference deep-merges YAML/env config and validates each section before
the pipeline starts (src/pipeline/micasense/core/config.py:16-152,
core/validation.py:294-368) — a bad resolution or threshold fails at
submit, not three hours into a run. This is the Spark-side equivalent: a
frozen dataclass whose ``validate()`` raises ``ConfigError`` with every
problem listed (not just the first), so an operator fixes a config in one
round trip.

Pure data — no SparkSession needed; importable on the driver before any
job starts.
"""

from __future__ import annotations

from dataclasses import dataclass, fields


class ConfigError(ValueError):
    """All submit-time config violations, one per line."""


@dataclass(frozen=True)
class EnrichConfig:
    """Everything the flagship enrichment plan parameterizes on.

    Defaults reproduce the shipped behavior; ``from_dict`` accepts a plain
    dict (e.g. parsed YAML/JSON) and rejects unknown keys so typos fail
    loudly.
    """

    # inputs
    sf_dir: str = "/root/testdata/sf0.001"
    output_dir: str = "/tmp/enriched_out"
    # DEM strategy: broadcast grids vs a sort-merge join on the tile key
    # (hot tiles: AQE's skew-join split) — enrich(broadcast_dem)
    broadcast_dem: bool = True
    # dated weather dimension — enrich(observations=...); broadcast_obs
    # False = planetary |stations|×|days| dim too big to broadcast — let
    # AQE plan the (station_id, date) equi-join — enrich(broadcast_obs=...)
    use_observations: bool = True
    broadcast_obs: bool = True
    # image/enriched table layout — write_images(buckets=...)
    partition_buckets: int = 16
    # write-path spatial clustering — write_images(cluster=...); 'zorder'
    # sorts files along the Morton curve, 'hilbert' along the Hilbert
    # curve (tighter envelopes) so bbox scans prune row groups
    cluster: str | None = None

    def validate(self) -> "EnrichConfig":
        errs: list[str] = []
        # bool is an int subclass: True must not pass as a bucket count
        pb = self.partition_buckets
        if isinstance(pb, bool) or not isinstance(pb, int) or pb < 1:
            errs.append(f"partition_buckets={pb!r}: must be an int >= 1")
        for name in ("sf_dir", "output_dir"):
            v = getattr(self, name)
            if not isinstance(v, str) or not v:
                errs.append(f"{name}={v!r}: must be a non-empty string")
        for name in ("broadcast_dem", "use_observations", "broadcast_obs"):
            v = getattr(self, name)
            if not isinstance(v, bool):
                errs.append(f"{name}={v!r}: must be a bool")
        if self.cluster not in (None, "zorder", "hilbert"):
            errs.append(
                f"cluster={self.cluster!r}: must be None, 'zorder' or 'hilbert'"
            )
        if errs:
            raise ConfigError(
                "invalid enrichment config:\n  " + "\n  ".join(errs)
            )
        return self

    @classmethod
    def from_dict(cls, d: dict) -> "EnrichConfig":
        known = {f.name for f in fields(cls)}
        unknown = sorted(set(d) - known)
        if unknown:
            raise ConfigError(
                "unknown config keys: "
                + ", ".join(unknown)
                + f" (known: {', '.join(sorted(known))})"
            )
        return cls(**d).validate()
