"""Media feature plumbing: synthetic payloads through the fake decoder."""

import pytest

from cwds_jobs_spark.operators.multimodal import extract_features, resize_images, sample_frames, synth_media


def test_multimodal_feature_plumbing(spark):
    media = synth_media(spark, 60)
    feats = extract_features(media).collect()
    assert len(feats) == 60 and all(len(r.features) == 16 for r in feats)
    # deterministic across runs
    again = extract_features(synth_media(spark, 60)).collect()
    assert {r.media_id: tuple(r.features) for r in feats} == {
        r.media_id: tuple(r.features) for r in again
    }


def test_multimodal_real_decoder_is_stubbed(spark):
    media = synth_media(spark, 5)
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        extract_features(media, decoder="real").collect()


def test_resize_and_frames(spark):
    media = synth_media(spark, 40)
    rs = resize_images(media, 224, 224).collect()
    assert rs and all(r.width == 224 and r.height == 224 for r in rs)
    fr = sample_frames(media, every_ms=60000)
    n_videos = media.filter("kind='video'").count()
    assert fr.select("media_id").distinct().count() == n_videos


