"""Engine configuration.

Mirrors the knobs of the reference's ``EventProcessorConf``
(/root/reference/src/main/java/com/thaze/peakmatch/EventProcessorConf.java:54-114
and xcorr.conf) that survive into the Spark engine, plus engine-only
knobs (rollup tiers, partitioning, codec settings).  Defaults match
the reference's ``xcorr.conf`` defaults where one exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PeakmatchConf:
    """Knobs of the peakmatch approximation + xcorr verify pipeline.

    Reference: xcorr.conf:12-49, EventProcessorConf.java:54-114.
    """

    # xcorr.conf:12 expected-file-line-count
    expected_len: int = 4000
    # xcorr.conf:23 top-k-peaks
    top_k_peaks: int = 2
    # xcorr.conf:27 sampling-stride
    sampling_stride: int = 5
    # xcorr.conf:33 top-amplitude-threshold
    top_amplitude_threshold: float = 0.3
    # xcorr.conf:38 candidate-threshold
    candidate_threshold: float = 0.55
    # xcorr.conf:41 final-threshold
    final_threshold: float = 0.7
    # xcorr.conf normalise-events (mean-center before unit-normalise)
    normalise_events: bool = True
    # crop window (Util.crop, Util.java:44-81); disabled by default
    crop: bool = False
    crop_min_peak_range: int = 3500
    crop_max_peak_range: int = 5500
    crop_window_before_peak: int = 700
    crop_window_after_peak: int = 1000
    # reference ingest quirk: (int) Double.parseDouble (BasicEvent.java:50)
    int_cast_ingest: bool = True


@dataclass(frozen=True)
class SpectralConf:
    """Dominant-frequency / band-rollup knobs.

    Reference: EventProcessorConf.java:33-44 + xcorr.conf dominantfreq.*
    """

    sample_rate: int = 100  # dominantfreq.sample-rate
    band_width: float = 0.5  # dominantfreq.band-width (top-freq dedup spacing)
    filter_below_hz: float = 1.0
    filter_above_hz: float = 10.0
    top_freq_count: int = 5
    frequency_band_hz: float = 0.5  # frequency-band-hz (band-mean rollup width)
    # xcorr.conf:58 dominantfreq.mean-frequency-amplitude-bands
    # "[1-5] [5-8.5] [8.5-10]" (parsed at EventProcessorConf.java:97,
    # consumed DominantFreqProcessor.java:114-140)
    mean_amplitude_bands: tuple[tuple[float, float], ...] = (
        (1.0, 5.0),
        (5.0, 8.5),
        (8.5, 10.0),
    )


@dataclass(frozen=True)
class ClusterConf:
    """Clustering knobs (ClusteringProcessor; EventProcessorConf.java:48-51)."""

    k: int = 5  # knn neighbours per node
    eta: float = 0.1  # max edge distance
    centre_threshold: float = 0.1
    max_cluster_size: int = 200  # ClusteringProcessor.java:253


@dataclass(frozen=True)
class RollupConf:
    """Engine-only: tumbling rollup cascade tiers + the activity curve."""

    tiers: tuple[str, ...] = ("1 minute", "1 hour", "1 day")
    # activity-curve bucket used for near-dup xcorr of conversations
    activity_bucket: str = "1 minute"
    activity_curve_len: int = 256  # fixed-length curve for xcorr kernels


@dataclass(frozen=True)
class EngineConf:
    peakmatch: PeakmatchConf = field(default_factory=PeakmatchConf)
    spectral: SpectralConf = field(default_factory=SpectralConf)
    cluster: ClusterConf = field(default_factory=ClusterConf)
    rollup: RollupConf = field(default_factory=RollupConf)


DEFAULT_CONF = EngineConf()


def parse_band_spec(tokens) -> tuple[tuple[float, float], ...]:
    """Reference band-spec syntax '[1-5] [5-8.5]' → ((1.0, 5.0), ...)
    (EventProcessorConf.java:97, DominantFreqProcessor.java:114-140)."""
    try:
        return tuple(
            (float(lo), float(hi))
            for lo, hi in (b.strip("[]").split("-", 1) for b in tokens)
        )
    except ValueError as e:
        raise ValueError(
            f"invalid band spec {list(tokens)!r} — expecting hz ranges "
            "eg [1.5-5] [5-7.8]"
        ) from e


# reference mode token (xcorr.conf:1) -> this CLI's mode + implied flags.
# FFTPRECACHE maps to peakmatch: that mode writes the event_fft table
# as part of its run (the reference splits them only because its cache
# is a directory of per-event files).
REFERENCE_MODES = {
    "ANALYSE": ("analyse", {}),
    "PEAKMATCH": ("peakmatch", {}),
    "FFTPRECACHE": ("peakmatch", {}),
    "POSTPROCESS": ("postprocess", {}),
    "BRUTEFORCE": ("bruteforce", {}),
    "FFTDOMINANTFREQ": ("fftdom", {}),
    "PLOT1D": ("plot", {"style": "1d"}),
    "PLOT2D": ("plot", {"style": "2d"}),
    "CLUSTER": ("cluster", {}),
}


def load_reference_conf(path: str) -> tuple[str, EngineConf, dict]:
    """Parse the reference's ``xcorr.conf`` key=value format
    (EventProcessorConf.java:54-114) into an ``EngineConf`` — a
    reference user's existing config file drives this engine without
    translation.  Returns ``(mode_token, conf, extras)``: the mode
    line's token (e.g. 'PEAKMATCH'), the engine conf with every
    surviving knob applied, and the keys with no Spark counterpart
    (dataset dirs, threads, fft cache size, plot gradient, verbose)
    passed through verbatim for the caller to map or ignore.

    Unknown keys raise: a typo'd threshold silently falling back to a
    default is exactly the failure mode a config file exists to
    prevent."""
    known_extras = {
        "verbose", "dataset.full", "dataset.sample", "threads",
        "fft-memory-cache-size", "plot.1d.tiny", "plot.2d.gradient",
        "plot.2d.bucket-duration-sec", "cluster.centres",
    }
    kv: dict[str, str] = {}
    with open(path) as f:
        for raw in f:
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            if "=" not in line:
                raise ValueError(f"unparseable conf line: {raw!r}")
            k, v = line.split("=", 1)
            kv[k.strip()] = v.strip()

    def _bool(s: str) -> bool:
        if s.lower() not in ("true", "false"):
            raise ValueError(f"expected true/false, got {s!r}")
        return s.lower() == "true"

    pm: dict = {}
    sp: dict = {}
    cl: dict = {}
    extras: dict = {}
    mode = "ANALYSE"
    pm_map = {
        "expected-file-line-count": ("expected_len", int),
        "top-k-peaks": ("top_k_peaks", int),
        "sampling-stride": ("sampling_stride", int),
        "top-amplitude-threshold": ("top_amplitude_threshold", float),
        "candidate-threshold": ("candidate_threshold", float),
        "final-threshold": ("final_threshold", float),
        "normalise-events": ("normalise_events", _bool),
        "crop": ("crop", _bool),
        "crop.min-peak-range": ("crop_min_peak_range", int),
        "crop.max-peak-range": ("crop_max_peak_range", int),
        "crop.window-before-peak": ("crop_window_before_peak", int),
        "crop.window-after-peak": ("crop_window_after_peak", int),
    }
    sp_map = {
        "dominantfreq.band-width": ("band_width", float),
        "dominantfreq.filter-below-hz": ("filter_below_hz", float),
        "dominantfreq.filter-above-hz": ("filter_above_hz", float),
        "dominantfreq.sample-rate": ("sample_rate", int),
        "dominantfreq.top-freq-count": ("top_freq_count", int),
        "frequency.band-hz": ("frequency_band_hz", float),
    }
    cl_map = {
        "cluster.k": ("k", int),
        "cluster.eta": ("eta", float),
        "cluster.centre-threshold": ("centre_threshold", float),
    }
    for k, v in kv.items():
        if k == "mode":
            mode = v.upper()
            if mode not in REFERENCE_MODES:
                raise ValueError(f"unknown reference mode {v!r}")
        elif k == "dominantfreq.mean-frequency-amplitude-bands":
            sp["mean_amplitude_bands"] = parse_band_spec(v.split())
        elif k in pm_map:
            field_, cast = pm_map[k]
            pm[field_] = cast(v)
        elif k in sp_map:
            field_, cast = sp_map[k]
            sp[field_] = cast(v)
        elif k in cl_map:
            field_, cast = cl_map[k]
            cl[field_] = cast(v)
        elif k in known_extras:
            extras[k] = v
        else:
            raise ValueError(f"unknown xcorr.conf key {k!r}")
    conf = EngineConf(
        peakmatch=PeakmatchConf(**pm),
        spectral=SpectralConf(**sp),
        cluster=ClusterConf(**cl),
    )
    return mode, conf, extras
