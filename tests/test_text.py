"""Unit tests for text/vector primitives (pure Python/numpy, no Spark)."""

import numpy as np

from graphiti_spark.functions import text as tx


def test_tokenize():
    assert tx.tokenize("Hello, World! 42") == ["hello", "world", "42"]
    assert tx.tokenize("") == []


def test_embed_deterministic_and_normalized():
    a = tx.embed_text("alice smith")
    b = tx.embed_text("alice smith")
    assert np.allclose(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-5
    assert a.shape == (tx.EMBED_DIM,)


def test_embed_similarity_orders_sensibly():
    base = tx.embed_text("alice smith works at acme")
    close = tx.embed_text("alice smith works for acme")
    far = tx.embed_text("completely unrelated words entirely")
    # embed_text is L2-normalized, so the dot product is the cosine
    assert float(base @ close) > float(base @ far)
