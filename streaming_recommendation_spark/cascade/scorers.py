"""Model scorers for the cascade's rank and rerank slots (SURVEY §2.9
M3-M4, §2.10).

The reference scores candidates with PyTorch modules called
row-at-a-time from Python loops (reference: eval_online/main/
inference.py:78-106; model_service/models.py:198-210). In this
engine a scorer is a numpy callable ``f(a, b) -> scores`` over
(n, dim) arrays of row pairs, which ``cascade.recommend.
cascade_kernel`` calls once per block of users inside the Arrow pass:
(candidate item, history mean) for rank, DIN's signature; (user, item)
for rerank, RankNet's. ``None`` in a slot keeps the kernel's cosine
stub.

``numpy_mlp_scorer`` runs a learned MLP without torch.
``torch_module_scorer`` is the real-model slot; it is import-gated
because this container ships no torch — the callable builds and fails
only when called, on the executor, with clear guidance, mirroring how
the model would be loaded per executor process (lazy init) in a real
deployment (reference model loading: eval_online/main/
models.py:45-80).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

Scorer = Callable[[np.ndarray, np.ndarray], np.ndarray]


def seeded_mlp_weights(
    in_dim: int, hidden_dims: tuple[int, ...] = (16, 8), seed: int = 7
) -> list:
    """Deterministic random-but-seeded MLP weights [(W, b), ...] for
    ``numpy_mlp_scorer`` — a stand-in for a trained state dict that
    any test environment can reproduce."""
    rng = np.random.default_rng(seed)
    dims = [in_dim, *hidden_dims, 1]
    return [
        (
            rng.normal(0.0, (2.0 / (a + b)) ** 0.5, size=(a, b)),
            rng.normal(0.0, 0.01, size=b),
        )
        for a, b in zip(dims, dims[1:])
    ]


def numpy_mlp_scorer(weights: list) -> Scorer:
    """Real-model scoring path WITHOUT torch: a numpy MLP over the
    concatenation of its two row-pair inputs.

    Signature parity with the reference's learned rankers — exactly
    RankNet's forward when fed (user, item) (reference eval_online/
    main/ranknet.py:34-58: concat(user_emb, item_emb) -> MLP ->
    score) and, fed (candidate, pooled history), the post-attention
    half of DIN's forward (eval_online/main/din.py:91-129: concat
    features -> MLP -> sigmoid logit). ReLU hidden layers, sigmoid
    output.

    ``weights`` ([(W, b), ...], e.g. from ``seeded_mlp_weights``) ride
    to executors in the closure — the same mechanism a broadcast
    state dict uses. A block is scored as ONE stacked matmul chain,
    never row-at-a-time; W0's row count must equal a's width plus
    b's.
    """

    def score(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        x = np.concatenate([a, b], axis=1).astype("float64")
        for i, (w, bias) in enumerate(weights):
            x = x @ w + bias
            if i < len(weights) - 1:
                x = np.maximum(x, 0.0)
        return 1.0 / (1.0 + np.exp(-x[:, 0]))

    return score


def torch_module_scorer(weights_path: str) -> Scorer:
    """Real-model slot: a scorer that loads the traced module once per
    executor process and calls it as ``model(a, b)`` on each block —
    DIN's (candidate, history) in the rank slot (reference
    eval_online/main/din.py:91-129), RankNet's (user, item) in the
    rerank slot (eval_online/main/ranknet.py:85-105)."""

    def score(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        try:
            import torch  # type: ignore[import-not-found]
        except ImportError as e:
            raise NotImplementedError(
                "torch_module_scorer needs PyTorch on the executors; this "
                "container ships without it. Use the built-in cosine stubs "
                "(rank_score/rerank_score=None) or numpy_mlp_scorer()."
            ) from e
        model = _load_model_cached(torch, weights_path)
        with torch.no_grad():
            out = model(*(torch.from_numpy(np.ascontiguousarray(x)) for x in (a, b)))
        return out.squeeze(-1).cpu().numpy().astype("float64")

    return score


_MODEL_CACHE: dict[str, object] = {}


def _load_model_cached(torch, path: str):  # pragma: no cover - needs torch
    if path not in _MODEL_CACHE:
        _MODEL_CACHE[path] = torch.jit.load(path, map_location="cpu").eval()
    return _MODEL_CACHE[path]
