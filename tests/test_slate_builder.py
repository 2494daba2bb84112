"""Invariants of the mechanical slate generator (tools/slate_builder.py) —
the rotation policy as code, not prose. These tests pin the r10+ regime:
standing canaries always present, never-certified entries take priority,
entries owing a re-cert jump the staleness queue, re-certs fill
oldest-first, and no two drain-heavy entries sit adjacent. They also pin
how the ledger is derived from CORRECTNESS artifacts, how the fingerprint
follows what an entry reaches, and how a round close folds it."""

import json
import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import slate_builder as sb  # noqa: E402

from flock_spark.registry import REGISTRY, _load_all  # noqa: E402

# Every entry whose fingerprint reaches dedup._spark_minhash_sig: direct
# callers, callers through the dedup helpers, and audits that run another
# consumer through REGISTRY["..."].fn.
MINHASH_CONSUMERS = {
    "corpus_cluster_sample_weights", "corpus_cross_source_dup_matrix",
    "corpus_quality_dup_calibration", "corpus_split_leakage_safe",
    "dedup_clusters", "dedup_clusters_star", "dedup_drop_duplicates",
    "dedup_edit_distance_pairs", "dedup_incremental_new_batch",
    "dedup_jaccard_threshold_curve", "dedup_keep_best_quality",
    "dedup_lsh_band_tradeoff_audit", "dedup_lsh_recall_audit",
    "dedup_minhash_estimate_vs_exact", "dedup_minhash_lsh_pairs",
    "dedup_minhash_signatures", "dedup_multi_signal_clusters",
    "graph_modularity_audit",
}

# The three certification contracts of operators/digests.py: each helper is
# reached by exactly the entries of its family. The parquet-writer audits are
# pure Spark SQL and share parquet_writer._audit_sql instead.
BYTE_ROUNDTRIP_CONSUMERS = {
    "mm_bzip2_decode", "mm_bzip2_encode_roundtrip", "mm_deflate_encode_roundtrip",
    "mm_lz4_block_roundtrip", "mm_quoted_printable_roundtrip", "mm_snappy_encode_roundtrip",
    "mm_xz_encode_roundtrip", "mm_xz_lzma_decode", "mm_zlib_inflate_dynamic",
    "mm_zstd_encode_roundtrip", "mm_zstd_frame_roundtrip",
}
PAGE_DECODE_CONSUMERS = {
    "scan_parquet_page_decode", "scan_parquet_gzip_page_decode",
    "scan_parquet_lz4_page_decode", "scan_parquet_zstd_page_decode",
}
COLUMN_AUDIT_CONSUMERS = {
    "scan_arrow_ipc_stream_walk", "scan_arrow_ipc_file_walk", "scan_orc_stripe_decode",
    "scan_avro_container_decode",  # digests each (codec, column) without column_audit
}
# Every per-row pandas UDF runs through digests.map_rows: the page-decode and
# column-audit families, the hand-written row functions, and the two entries
# that reach mm_phash64 (mm_phash_near_dup calls it, mm_dedup_clusters calls that).
MAP_ROWS_CONSUMERS = {
    "archive_ingest_chain_end_to_end", "crawl_chain_end_to_end",
    "mm_arrow_ipc_encode_roundtrip", "mm_audio_window_energy", "mm_avro_encode_roundtrip",
    "mm_byte_histogram", "mm_dedup_clusters", "mm_frame_sample", "mm_gif_deinterlace",
    "mm_gif_header_dims", "mm_gif_lzw_decode", "mm_gzip_member_parse",
    "mm_gzip_multistream_walk", "mm_header_dims", "mm_http_chunked_decode",
    "mm_image_tile_stats", "mm_jpeg_baseline_decode", "mm_jpeg_header_dims",
    "mm_jpeg_progressive_decode", "mm_phash64", "mm_phash_near_dup", "mm_png_chunk_walk",
    "mm_png_filter_suite_decode", "mm_png_inflate_stored", "mm_resize_bilinear",
    "mm_resize_nearest", "mm_scene_cut_detect", "mm_tar_member_walk", "mm_warc_file_ingest",
    "mm_warc_record_walk", "mm_wav_header_audio", "mm_wet_conversion_roundtrip",
    "mm_zip_central_dir_walk", "scan_arrow_ipc_file_walk", "scan_arrow_ipc_stream_walk",
    "scan_avro_container_decode", "scan_csv_rfc4180_parse", "scan_formats_consensus",
    "scan_orc_stripe_decode", "scan_own_writers_consensus", "scan_parquet_footer_thrift_walk",
    "scan_parquet_gzip_page_decode", "scan_parquet_lz4_page_decode", "scan_parquet_page_decode",
    "scan_parquet_page_index_prune", "scan_parquet_v2_delta_decode",
    "scan_parquet_zstd_page_decode", "streaming_arrow_ipc_ingest", "streaming_avro_file_ingest",
    "streaming_orc_file_ingest", "streaming_warc_file_ingest", "streaming_warc_ingest_decode",
    "streaming_xz_file_ingest", "text_charset_detect_transcode", "text_punycode_idna_roundtrip",
}
SPARK_AUDIT_CONSUMERS = {
    "scan_parquet_own_writer_roundtrip", "scan_parquet_own_writer_v2_roundtrip",
}


@pytest.fixture(scope="module")
def rounds():
    return sb.certified_rounds()


@pytest.fixture(scope="module")
def live():
    return sb.entry_fingerprints()


@pytest.fixture(scope="module")
def slate():
    return sb.build_slate(50)


def test_standing_canaries_are_certified_and_span_families(rounds):
    _load_all()
    for name in sb.STANDING_CANARIES:
        assert name in REGISTRY, f"canary {name} not registered"
        assert name in rounds, f"canary {name} never certified"
    # one canary per family, no duplicates: the full 10-canary front
    assert len(set(sb.STANDING_CANARIES)) == len(sb.STANDING_CANARIES)
    assert len(sb.STANDING_CANARIES) == 10


def test_generated_slate_shape_and_priorities(rounds, slate):
    _load_all()
    assert len(slate) == 50
    assert len(set(slate)) == 50
    assert all(n in REGISTRY for n in slate)
    # canaries always included
    missing_canaries = [n for n in sb.STANDING_CANARIES if n not in slate]
    assert not missing_canaries
    # never-certified entries take priority over every re-cert
    never = [n for n in REGISTRY if n not in rounds]
    if len(never) <= 50 - len(sb.STANDING_CANARIES):
        unslated = [n for n in never if n not in slate]
        assert not unslated, f"never-certified left off: {unslated}"


def test_generated_slate_spreads_heavies(slate):
    for a, b in zip(slate, slate[1:]):
        assert not (sb._is_heavy(a) and sb._is_heavy(b)), (
            f"adjacent heavy entries: {a}, {b}"
        )


def test_recerts_fill_oldest_certified_first(rounds, live, slate):
    _load_all()
    never = {n for n in REGISTRY if n not in rounds}
    with open(sb.FINGERPRINT_PATH) as fh:
        baseline = json.load(fh)
    changed = {n for n in live if baseline.get(n) != live[n]}
    recerts = [
        n for n in slate
        if n not in never and n not in changed and n not in sb.STANDING_CANARIES
    ]
    if recerts:
        # every selected re-cert must be at least as stale as every
        # certified entry left out (staleness = certification round)
        chosen_worst = max(rounds[n] for n in recerts)
        left_out = [
            n for n in rounds
            if n not in slate and n not in changed and n not in sb.STANDING_CANARIES
        ]
        if left_out:
            left_best = min(rounds[n] for n in left_out)
            assert chosen_worst <= left_best, (
                "a fresher entry was re-certed while a staler one waited"
            )


def test_fingerprints_cover_registry_and_are_stable(live):
    _load_all()
    assert set(live) == set(REGISTRY)
    # deterministic: two computations agree
    assert live == sb.entry_fingerprints()


def test_baseline_covers_registry():
    _load_all()
    with open(sb.FINGERPRINT_PATH) as fh:
        assert set(json.load(fh)) == set(REGISTRY)


def test_fingerprints_identical_across_hash_seeds():
    code = (
        f"import json, sys; sys.path.insert(0, {TOOLS!r}); import slate_builder as sb; "
        "print(json.dumps(sb.entry_fingerprints(), sort_keys=True))"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code], stdout=subprocess.PIPE, text=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
        )
        for seed in ("1", "2")
    ]
    outs = [p.communicate(timeout=120)[0] for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    assert outs[0] == outs[1] and len(json.loads(outs[0])) == len(REGISTRY)


def _flagged(monkeypatch, live, target, edit) -> set[str]:
    """Entries whose fingerprint moves when ``target``'s source is edited."""
    real = sb._source
    monkeypatch.setattr(sb, "_source", lambda o: edit(real(o)) if o is target else real(o))
    edited = sb.entry_fingerprints()
    return {n for n in live if edited[n] != live[n]}


@pytest.mark.parametrize("module, helper, consumers", [
    ("flock_spark.operators.dedup", "_spark_minhash_sig", MINHASH_CONSUMERS),
    ("flock_spark.operators.digests", "byte_roundtrip", BYTE_ROUNDTRIP_CONSUMERS),
    ("flock_spark.operators.digests", "page_decode", PAGE_DECODE_CONSUMERS),
    ("flock_spark.operators.digests", "column_digest", COLUMN_AUDIT_CONSUMERS),
    ("flock_spark.operators.digests", "map_rows", MAP_ROWS_CONSUMERS),
    ("flock_spark.operators.parquet_writer", "_audit_sql", SPARK_AUDIT_CONSUMERS),
], ids=["minhash", "byte_roundtrip", "page_decode", "column_digest", "map_rows", "audit_sql"])
def test_helper_edit_flags_exactly_its_consumers(monkeypatch, live, module, helper, consumers):
    target = getattr(sys.modules[module], helper)
    flagged = _flagged(monkeypatch, live, target, lambda s: s + "# edit\n")
    assert flagged == consumers


def test_function_local_import_is_reached(monkeypatch, live):
    from flock_spark.operators import lzma_codec

    flagged = _flagged(monkeypatch, live, lzma_codec.xz_decompress, lambda s: s + "# edit\n")
    assert "streaming_xz_file_ingest" in flagged


@pytest.mark.parametrize("module, old, new, consumer", [
    ("flock_spark.operators.multimodal", "_DC_BITS = (0, 0, 1, 5,", "_DC_BITS = (0, 0, 1, 6,",
     "mm_jpeg_baseline_decode"),
    # dedup binds HASH_COEFFS by `from ...hashing import`: the walk follows it home
    ("flock_spark.operators.hashing", "HASH_COEFFS: list[tuple[int, int]] = [",
     "HASH_COEFFS: list[tuple[int, int]] = [(1, 2), ", "dedup_minhash_lsh_pairs"),
    # run_to_memory reads DRAIN_PARTITION_CAP only as a default argument
    ("flock_spark.streaming.runner", "DRAIN_PARTITION_CAP = 8", "DRAIN_PARTITION_CAP = 9",
     "streaming_tumbling_agg"),
])
def test_module_table_edit_flags_its_readers(monkeypatch, live, module, old, new, consumer):
    assert old in sb._source(sys.modules[module])
    flagged = _flagged(monkeypatch, live, sys.modules[module], lambda s: s.replace(old, new))
    assert consumer in flagged
    assert "tpch_q1" not in flagged


def _artifact(root, rn: str, rows: dict) -> None:
    cols = ("rows_match", "schema_match", "hash_match")
    with open(os.path.join(root, f"CORRECTNESS_r{rn}.json"), "w") as fh:
        json.dump({n: dict.fromkeys(cols, ok) for n, ok in rows.items()}, fh)


def test_latest_green_round_wins(monkeypatch, tmp_path):
    monkeypatch.setattr(sb, "ROOT", str(tmp_path))
    _artifact(tmp_path, "01", {"a": True, "b": False})
    _artifact(tmp_path, "9", {"a": True, "b": True})
    _artifact(tmp_path, "10", {"b": True, "c": True})  # r10 sorts after r9
    assert sb.certified_rounds() == {"a": 9, "b": 10, "c": 10}


def test_red_after_green_raises(monkeypatch, tmp_path):
    monkeypatch.setattr(sb, "ROOT", str(tmp_path))
    _artifact(tmp_path, "01", {"a": True})
    _artifact(tmp_path, "02", {"a": False})
    with pytest.raises(ValueError, match="red in round 2"):
        sb.certified_rounds()


def test_no_artifacts_raises(monkeypatch, tmp_path):
    monkeypatch.setattr(sb, "ROOT", str(tmp_path))
    with pytest.raises(FileNotFoundError):
        sb.certified_rounds()


def test_fold_moves_exactly_the_newest_green_names(monkeypatch, tmp_path):
    monkeypatch.setattr(sb, "ROOT", str(tmp_path))
    monkeypatch.setattr(sb, "FINGERPRINT_PATH", str(tmp_path / "fps.json"))
    _artifact(tmp_path, "01", {"a": True, "b": True, "d": True})
    _artifact(tmp_path, "02", {"a": True, "c": False})
    (tmp_path / "fps.json").write_text(json.dumps({"a": "a1", "b": "b1", "d": "d1"}))
    live = {"a": "a2", "b": "b2", "c": "c2", "d": "d1"}
    monkeypatch.setattr(sb, "entry_fingerprints", lambda: live)
    assert sb.changed_entries() == ["a", "b", "c"]
    assert sb.write_fingerprints() == ["a"]
    # b changed after its r01 certification and was not green in r02: its
    # debt survives the fold; c (red, never certified) gets no baseline
    assert json.loads((tmp_path / "fps.json").read_text()) == {"a": "a2", "b": "b1", "d": "d1"}
    assert sb.changed_entries() == ["b", "c"]
