"""The ``asd_video`` workload: a seeded MJPEG-in-AVI corpus and the
engine's media pipeline over it, stage by stage.

Each clip is two static shots (a scene cut halfway) of seeded noise at
48x64 pixels with a PCM sine track. Static shots give identical frames,
hence identical detections and one IoU track per detected face per
shot, so the work of a job is fixed by the seed.
"""

from __future__ import annotations

import io
import os

import numpy as np

H, W = 48, 64
FPS = 25.0
SR = 16000
DETECT_CONF = 0.95
MIN_TRACK = 2
MIN_SEGMENT_S = 0.08  # two frames
SCORER_SEED = 11
DETECTOR_SEED = 13
# The seeded scorer's per-frame scores fall between about -2.6 and -0.4;
# a threshold in their lower tail makes every seed cut some segments
# (the count is in the run detail).
SCORE_THRESHOLD = -2.0


def write_corpus(folder: str, seed: int, n_clips: int, n_frames: int) -> int:
    """Write ``n_clips`` AVI files; returns the corpus frame count."""
    from talknet_segmentation_batchprocessing_spark.sources.riff import write_avi

    os.makedirs(folder, exist_ok=True)
    rng = np.random.default_rng(seed)
    cut = n_frames // 2
    n_samples = int(SR * n_frames / FPS)
    t = np.arange(n_samples, dtype=np.float64) / SR
    for c in range(n_clips):
        shot_a = rng.integers(0, 256, (H, W), dtype=np.uint8)
        shot_b = rng.integers(0, 256, (H, W), dtype=np.uint8)
        tone = (12000 * np.sin(2 * np.pi * rng.uniform(200.0, 800.0) * t)).astype(np.int16)
        avi = write_avi(
            [shot_a] * cut + [shot_b] * (n_frames - cut),
            fps=FPS, samples=tone, sr=SR, codec="mjpeg",
        )
        with open(os.path.join(folder, f"clip{c:03d}.avi"), "wb") as f:
            f.write(avi)
    return n_clips * n_frames


def detector_weights() -> bytes:
    """Seeded S3FD weights as the npz bytes the detector broadcast carries."""
    from talknet_segmentation_batchprocessing_spark.operators.s3fd_net import init_weights

    buf = io.BytesIO()
    np.savez(buf, **{k: v.astype(np.float32) for k, v in init_weights(seed=DETECTOR_SEED).items()})
    return buf.getvalue()


def _detector(state: bytes):
    import io as _io

    import numpy as _np

    from talknet_segmentation_batchprocessing_spark.operators.inference import s3fd_detector
    from talknet_segmentation_batchprocessing_spark.operators.s3fd_net import s3fd_forward_fn

    z = _np.load(_io.BytesIO(state))
    base = s3fd_forward_fn({k: z[k] for k in z.files})

    def fwd(image, meta):
        gray = _np.frombuffer(image, dtype=_np.uint8).reshape(H, W)
        return base(_np.repeat(gray[:, :, None], 3, axis=2), meta)

    return s3fd_detector(forward_fn=fwd, input_size=(H, W), conf_th=DETECT_CONF)


def _scorer(_state):
    from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import talknet_scorer

    return talknet_scorer(seed=SCORER_SEED)


def stages(spark, corpus_dir: str, weights_bc, decoder=None) -> dict:
    """Build the pipeline lazily; returns every stage's DataFrame in
    pipeline order. ``decoder`` replaces the frame decoder (the traced
    run passes a counting wrapper around ``riff_decoder``)."""
    from talknet_segmentation_batchprocessing_spark.operators.featurize import featurize_tracks
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        detect_faces,
        score_tracks,
    )
    from talknet_segmentation_batchprocessing_spark.operators.scenes import detect_scenes
    from talknet_segmentation_batchprocessing_spark.operators.segmentation import extract_segments
    from talknet_segmentation_batchprocessing_spark.operators.tracking import track_faces
    from talknet_segmentation_batchprocessing_spark.sources.corpus import scan_video_folder
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
        extract_audio,
        riff_decoder,
    )

    videos = scan_video_folder(spark, corpus_dir, with_content=True)
    dec = riff_decoder()
    frames = explode_frames(videos, decoder=decoder or dec)
    audio = extract_audio(videos, decoder=dec)
    scenes = detect_scenes(frames, min_scene_len=2)
    dets = detect_faces(
        frames, model_bc=weights_bc, model_builder=_detector, conf_th=DETECT_CONF
    )
    with_scene = dets.join(
        scenes,
        on=[
            dets.video_id == scenes.video_id,
            (dets.frame_idx >= scenes.start_frame) & (dets.frame_idx < scenes.end_frame),
        ],
    ).select(dets["*"], scenes.scene_id)
    tracks = track_faces(with_scene, min_track=MIN_TRACK)
    feats = featurize_tracks(tracks, frames, audio)
    scores = score_tracks(feats, model_builder=_scorer, durations=[1])
    segments = extract_segments(
        scores, threshold=SCORE_THRESHOLD, min_duration_s=MIN_SEGMENT_S
    )
    return {
        "videos": videos, "frames": frames, "audio": audio, "scenes": scenes,
        "detections": dets, "tracks": tracks, "features": feats,
        "scores": scores, "segments": segments,
    }


def cut(st: dict, out_dir: str) -> None:
    """The job's output: one manifest file per speaking segment."""
    from talknet_segmentation_batchprocessing_spark.sources.segment_sink import (
        manifest_cutter,
        write_segment_media,
    )

    write_segment_media(
        st["segments"], st["videos"].select("video_id", "path"), manifest_cutter(out_dir)
    )


# Gaps-and-islands over the collected scores table, the same shape as
# the engine's Phase-0 oracle.
SEGMENTS_ORACLE = f"""
WITH flagged AS (
  SELECT *, (score > {SCORE_THRESHOLD}) AS speaking FROM scores
), marked AS (
  SELECT *, CASE WHEN (lag(speaking) OVER w) IS DISTINCT FROM speaking THEN 1 ELSE 0 END AS chg
  FROM flagged WINDOW w AS (PARTITION BY video_id, track_id ORDER BY frame_idx)
), runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY video_id, track_id ORDER BY frame_idx
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), segs AS (
  SELECT video_id, track_id, min(frame_idx) AS start_frame, max(frame_idx) + 1 AS end_frame
  FROM runs WHERE speaking GROUP BY video_id, track_id, island
  HAVING max(frame_idx) + 1 - min(frame_idx) >= {int(MIN_SEGMENT_S * FPS)}
)
SELECT video_id, track_id,
       CAST(row_number() OVER (PARTITION BY video_id, track_id ORDER BY start_frame) - 1 AS INTEGER) AS seg_id,
       start_frame, end_frame,
       start_frame / {FPS} AS start_ts, end_frame / {FPS} AS end_ts,
       (end_frame - start_frame) / {FPS} AS duration
FROM segs
"""
