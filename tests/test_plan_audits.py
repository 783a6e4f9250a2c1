"""Registry-wide nested-loop-join and Python-eval plan audits
(VERDICT r12 item 2: extend the mechanized SinglePartition-funnel audit
to the other scale-killer shapes).

Shape (a): CartesianProduct / BroadcastNestedLoopJoin. A nested-loop
join re-scans its build side for every streamed row — survivable at
100 TB only when the build side is provably tiny.
``plans.checks.nested_loop_joins`` auto-approves builds that bottom out
in a keyless aggregate / limit / literal LocalTableScan / literal
spark.range through cardinality-transparent nodes (closure rules: any
aggregate <= its input, a join or union of bounded sides stays
bounded). Everything else — typically a broadcast of a CHECKPOINTED or
SAMPLED small frame, whose bound lives in the query design rather than
the plan — must carry a documented entry in DOCUMENTED_NESTED_LOOPS.

Shape (b): Python-evaluation nodes (rows leave the JVM). Acceptable
only where built-in expressions genuinely can't do the work: byte-level
codecs, vectorized numpy kernels, and the deliberate UDF-surface
demos. Every registered query's Python-eval nodes must match its
DOCUMENTED_PYTHON_EVAL entry exactly.

Both allowlists are exact both ways (the DOCUMENTED_FUNNELS
convention): an unlisted offender fails, and a stale entry — query
renamed, node gone, or node set changed — also fails, so a migration
automatically retires its entry and a regression is caught by name.
"""

from __future__ import annotations

from spark_streaming_test_spark.plans import checks

# query name -> the documented bound of every non-auto-approved
# nested-loop build side in its plan. The recurring shapes:
#   * "scalar frame": a keyless-aggregate result that was
#     localCheckpointed/collected, so the plan shows Scan ExistingRDD
#     instead of the provable aggregate (1 row at any SF);
#   * "query set": the deterministically sampled probe vectors of the
#     similarity family (corpus_rows / QUERY_MOD, fixed by design);
#   * "offsets frame": the P-row per-partition offset frame of the
#     distributed two-pass rank primitives (P = shuffle partitions,
#     never corpus rows).
DOCUMENTED_NESTED_LOOPS: dict[str, str] = {
    "ab_test_qini_uplift": "P-row partition-offset frame of distributed_ntile (broadcast)",
    "agg_concentration_curve": "P-row offsets frame of distributed_prefix_sum (broadcast)",
    "corpus_curriculum_order": "P-row partition-offset frame of distributed_ntile (broadcast)",
    "decon_exact_substring": "probe spans: one per eval-split doc (eval split is sampled small by design)",
    "dedup_embedding_cosine": "capped vec_id range (DEDUP_COS_MAX_ID rows) checkpointed then self-joined",
    "dedup_threshold_sweep": "9-row threshold frame x 1-row corpus-size scalar (checkpointed)",
    "dq_dp_quantile": "per-type noisy-histogram frame (type x DP_BINS rows, domain-bounded)",
    "dq_t_closeness": "global sensitive-value bin distribution (value-domain rows, checkpointed)",
    "emb_random_projection_jl": "sampled audit-pair id frame (JL_AUDIT_PAIRS rows)",
    "events_time_to_convert": "1-row exact-rank cutoff scalars from distributed_row_number (checkpointed)",
    "events_value_lorenz_distributed": "P-row offsets frame of distributed_prefix_sum (broadcast)",
    "geo_point_in_polygon": "polygon ring vertex frame (fixed literal fence, dozens of rows)",
    "ml_conformal_interval": "1-row OLS params + 1-row conformal quantile scalars (checkpointed)",
    "ml_isotonic_calibration": "P-row partition-offset frame of distributed_ntile (broadcast; visible since r13 removed the pre-PAV checkpoint)",
    "ml_nb_train_score": "per-class prior/likelihood frame (classes x vocab of the LANG-ID domain)",
    "ml_ridge_path": "1-row decimal moment scalars (checkpointed) x 5-row lambda grid",
    "mlstats_lift_gains_distributed": "P-row partition-offset frame of distributed_ntile (broadcast)",
    "mlstats_ndcg_map": "log2-discount / ideal-DCG ladder (k=10 rows) checkpointed",
    "mlstats_rbo_ranking": "two top-RBO_K ranked lists (2k rows) checkpointed before depth expansion",
    "rfm_segmentation": "P-row partition-offset frames of the three distributed_ntile calls",
    "sim_binary_hamming_topk": "query signature set (corpus/QUERY_MOD rows, sampled by design)",
    "sim_bruteforce_topk": "query vector set (corpus/QUERY_MOD rows, sampled by design)",
    "sim_hard_negatives": "query vector set (corpus/QUERY_MOD rows, sampled by design)",
    "sim_incremental_topk": "query set x base/delta split (both query-set-sized, sampled by design)",
    "sim_ivfpq_recall_eval": "query vector set (corpus/QUERY_MOD rows, sampled by design)",
    "sim_knn_classify": "query vector set (corpus/QUERY_MOD rows, sampled by design)",
    "sim_mips_transform_topk": "query vector set + 1-row max-norm scalar (checkpointed)",
    "sim_pairwise_label_stats": "sampled pair-id frame (PAIR_SAMPLE_MOD-thinned, bounded by design)",
    "sim_recall_eval": "query vector set (corpus/QUERY_MOD rows, sampled by design)",
    "sim_sq8_recall_eval": "query vector set (corpus/QUERY_MOD rows, sampled by design)",
    "sim_sq8_topk": "query vector set x 1-row per-dim min/max bounds frame",
    "sim_two_stage_rerank": "query signature set (corpus/QUERY_MOD rows, sampled by design)",
    "text_zipf_fit": "1-row OLS moment scalars over the vocabulary fit (checkpointed)",
    "traffic_alerts_broadcast": "2-row limits dimension (the reference's traffic_limits table)",
    "traffic_cidr_match": "bogon CIDR table (fixed literal route list, checkpointed)",
    "ts_dtw_distance": "z-normalized daily series pairs (series-count^2 rows, day-grain bounded)",
}

# query name -> (exact sorted tuple of Python-eval plan nodes, why the
# work cannot stay JVM-side). Families:
#   * byte codecs (mm_* / scan_* / pcap / WARC / Kafka wire): the
#     engine's hand-written decoders over binary columns — no Spark
#     builtin parses JPEG/FLAC/MP4/parquet-footer/libpcap/etc.;
#   * vectorized numpy kernels (IVF cell assignment, Jaro-Winkler):
#     Arrow-batched, the documented pandas-UDF scale path;
#   * udf_*: the UDF-surface coverage family — each registers exactly
#     the node it demonstrates.
DOCUMENTED_PYTHON_EVAL: dict[str, tuple[tuple[str, ...], str]] = {
    "corpus_robots_filter": (("ArrowEvalPython",), "robots.txt directive matcher"),
    "corpus_warc_ingest_report": (("MapInPandas",), "WARC record walk (gzip member split)"),
    # dedup_semdedup / dedup_semdedup_centroid_rep run the same Arrow
    # assign_cell kernel, but their assignment frame is localCheckpointed
    # inside the query (3 consumers — the r10 one-instance rule), so the
    # emitted plan starts at the materialized LogicalRDD and carries no
    # Python-eval node for this audit to see.
    "dedup_semdedup_cell_audit": (("ArrowEvalPython",), "vectorized numpy IVF cell-assignment kernel (Arrow batches)"),
    "dedup_unicode_nfc": (("ArrowEvalPython",), "unicodedata NFC normalization — no JVM builtin"),
    "fuzzy_jaro_winkler": (("ArrowEvalPython",), "Jaro-Winkler kernel (vectorized, Arrow batches)"),
    # graph_spectral_bisection runs its bounded-core eigensolve in a
    # MapInPandas task, but the result is localCheckpointed inside the
    # query (3 consumers — the r10 one-instance rule), so the emitted
    # plan starts at the materialized LogicalRDD and carries no
    # Python-eval node for this audit to see. Documented here; the
    # bound is BW_EXACT_N nodes / BW_EXACT_N^2 edges at any SF.
    "html_extract_text": (("ArrowEvalPython",), "stdlib HTMLParser text extraction"),
    "ml_isotonic_calibration": (("MapInPandas",), "PAV merge over the ISO_BINS-row block frame (constant at any SF) in one task — all-int64 merge loop too small to distribute"),
    "mm_audio_adpcm_decode": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_alaw_decode": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_band_power": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_flac_decode": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_flac_streaminfo": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_frames": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_mp3_meta": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_mulaw_decode": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_ogg_codec_meta": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_ogg_pages": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_opus_toc": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_audio_vorbis_packets": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_avg_hash_dedup": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_bmp": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_gif": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_jpeg": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_jpeg_420": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_jpeg_color": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_jpeg_progressive": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_png": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_png_interlaced": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_pnm": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_tiff": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_decode_wav": (("MapInPandas",), "audio byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_exif_metadata": (("MapInPandas",), "image metadata byte walk (EXIF/TIFF tags) — no JVM builtin"),
    "mm_feature_extract_stub": (("MapInPandas",), "multimodal sample assembly over binary payloads"),
    "mm_frame_sample_stub": (("MapInPandas",), "multimodal sample assembly over binary payloads"),
    "mm_image_gradient_hist": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_jpeg_exif_metadata": (("MapInPandas",), "image metadata byte walk (EXIF/TIFF tags) — no JVM builtin"),
    "mm_jpeg_progressive_preview": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_jpeg_thumbnail_dc": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_resize_bmp": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_resize_stub": (("MapInPandas",), "image byte codec (stdlib+numpy) — no JVM builtin"),
    "mm_video_frame_sample": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_h264_nal_index": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_h264_sps_meta": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_mjpeg_frames": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_mp4_frames": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_mp4_h264_meta": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_mp4_sample_index": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_mp4_stride_sample": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_video_webm_meta": (("MapInPandas",), "video container/codec byte walk — no JVM builtin"),
    "mm_webdataset_epoch": (("MapInPandas",), "multimodal sample assembly over binary payloads"),
    "mm_webdataset_pairs": (("MapInPandas",), "multimodal sample assembly over binary payloads"),
    "scan_avro_records": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_git_loose_objects": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_parquet_dict_handrolled": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_parquet_footer": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_parquet_pages_handrolled": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_pcap_file": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_pdf_doc_meta": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_pdf_text": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_protobuf_records": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_sqlite_table": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_tar_members": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_warc_gz_records": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_warc_records": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_warc_zst_records": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "scan_zip_entries": (("MapInPandas",), "container/wire-format byte parser (one file per map task)"),
    "sim_ivf_topk": (("ArrowEvalPython",), "vectorized numpy IVF cell-assignment kernel (Arrow batches)"),
    "sim_ivfpq_recall_eval": (("ArrowEvalPython",), "vectorized numpy IVF cell-assignment kernel (Arrow batches)"),
    "sim_ivfpq_topk": (("ArrowEvalPython",), "vectorized numpy IVF cell-assignment kernel (Arrow batches)"),
    "sim_mmr_diversify": (("FlatMapGroupsInPandas",), "per-query sequential greedy MMR selection (applyInPandas)"),
    "sim_recall_eval": (("ArrowEvalPython",), "vectorized numpy IVF cell-assignment kernel (Arrow batches)"),
    "text_compress_ratio": (("ArrowEvalPython",), "token-dictionary codec serialized byte count"),
    "text_punycode_decode": (("ArrowEvalPython",), "stdlib punycode/IDNA decode"),
    "traffic_alerts_kafka_wire_v2": (("ArrowEvalPython",), "Kafka record-batch wire encoding (CRC-32C + compression codec)"),
    "traffic_alerts_kafka_wire_zstd": (("ArrowEvalPython",), "Kafka record-batch wire encoding (CRC-32C + compression codec)"),
    "traffic_pcap_flows": (("MapInPandas",), "libpcap byte parser (one capture file per map task)"),
    "traffic_pcap_pipeline": (("MapInPandas",), "libpcap byte parser (one capture file per map task)"),
    "udf_apply_in_pandas": (("FlatMapGroupsInPandas",), "UDF-surface demo: registers exactly this node"),
    "udf_arrow_scalar": (("ArrowEvalPython",), "UDF-surface demo: registers exactly this node"),
    "udf_cogroup_apply_in_pandas": (("FlatMapCoGroupsInPandas",), "UDF-surface demo: registers exactly this node"),
    "udf_map_in_arrow": (("MapInArrow",), "UDF-surface demo: registers exactly this node"),
    "udf_pandas_iter": (("ArrowEvalPython",), "UDF-surface demo: registers exactly this node"),
    "udf_pandas_scalar": (("ArrowEvalPython",), "UDF-surface demo: registers exactly this node"),
    "udf_python_udtf": (("BatchEvalPythonUDTF",), "UDF-surface demo: registers exactly this node"),
    "udf_udtf_polymorphic": (("BatchEvalPythonUDTF",), "UDF-surface demo: registers exactly this node"),
    "warc_text_pipeline": (("MapInPandas",), "WARC record walk (gzip member split)"),
}


def test_no_undocumented_nested_loops_or_python_eval(registry_plans):
    """One registry sweep, both audits: every CartesianProduct/BNLJ
    build is bounded-by-plan or documented; every Python-eval node set
    matches its documented entry exactly; stale entries fail."""
    bad_join: dict[str, list] = {}
    bad_py: dict[str, tuple] = {}
    used_join: set[str] = set()
    used_py: set[str] = set()
    for name, plan in registry_plans.items():
        unbounded = [
            j for j in checks.nested_loop_joins(plan) if not j["bounded"]
        ]
        if unbounded:
            if name in DOCUMENTED_NESTED_LOOPS:
                used_join.add(name)
            else:
                bad_join[name] = [(j["op"], j["reason"]) for j in unbounded]

        py = tuple(checks.python_eval_nodes(plan))
        if py:
            doc = DOCUMENTED_PYTHON_EVAL.get(name)
            if doc is not None and doc[0] == py:
                used_py.add(name)
            else:
                bad_py[name] = (py, doc[0] if doc else None)

    assert not bad_join, (
        "nested-loop joins whose build side is neither provably bounded "
        f"nor documented (document the K-row frame or fix the join): {bad_join}"
    )
    assert not bad_py, (
        "Python-eval nodes not matching the documented allowlist "
        f"(got, documented): {bad_py}"
    )
    stale_join = set(DOCUMENTED_NESTED_LOOPS) - used_join
    assert not stale_join, (
        f"nested-loop allowlist entries whose query no longer qualifies — "
        f"delete them: {stale_join}"
    )
    stale_py = set(DOCUMENTED_PYTHON_EVAL) - used_py
    assert not stale_py, (
        f"python-eval allowlist entries whose query no longer matches — "
        f"delete them: {stale_py}"
    )
