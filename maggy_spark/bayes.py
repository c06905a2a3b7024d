"""Bayesian optimization controllers: GP and TPE, numpy-only.

Reference semantics (SURVEY.md §2.2 G6-G9):
- Async BO base loop (`maggy/optimizer/bayes/base.py:170-313`):
  warmup buffer of random configs, epsilon-random fraction, surrogate
  update from finalized trials, acquisition-optimized sampling,
  dedup by one `_draw_unseen` redraw of at most MAX_DEDUP_RETRIES + 1
  draws (`base.py:288-301`), busy-location imputation via constant
  liar (`gp.py:329-373`) over the in-flight trials of the base's
  `trial_store`, as the reference reads its driver's store.
- GP surrogate (`bayes/gp.py:266-327`): Matern nu=2.5 kernel with
  normalize_y and gaussian noise; acquisition EI over `n_points`
  sampled candidates (`gp.py:183-264` "sampling" routine).
- TPE (`bayes/tpe.py:75-266`): good/bad split at gamma quantile with
  floor n_hparams+1, two KDEs, sample n_samples=24 from the good
  KDE, pick max EI = pdf_good/pdf_bad clipped at 1e-32.

The environment ships no sklearn/scipy/statsmodels, so the surrogate
math is implemented directly with numpy (Cholesky GP regression,
Gaussian KDE with Scott bandwidth). Model state is tiny (<= num_trials
rows); it lives driver-side while trial execution fans out through
Spark (executor.py), matching the reference's division of labor.
"""

from __future__ import annotations

import math
import warnings

import numpy as np

from maggy_spark.optimizers import AbstractOptimizer
from maggy_spark.searchspace import CATEGORICAL, DISCRETE
from maggy_spark.trial import Trial

DEFAULT_WARMUP = 15        # base.py:88-93
DEFAULT_RANDOM_FRACTION = 0.33
DEFAULT_N_POINTS = 10_000  # gp.py:158-163
DEFAULT_TPE_SAMPLES = 24   # tpe.py:41,53-54
EI_CLIP = 1e-32            # tpe.py:253-266


def _finite(metric) -> bool:
    """A metric the surrogates can train on: not None, NaN or ±inf."""
    return metric is not None and math.isfinite(metric)


class BaseAsyncBO(AbstractOptimizer):
    def __init__(
        self,
        num_warmup_trials: int = DEFAULT_WARMUP,
        random_fraction: float = DEFAULT_RANDOM_FRACTION,
        pruner=None,
        pruner_kwargs: dict | None = None,
        interim_results: bool = False,
        interim_results_interval: int = 10,
    ):
        # pruner/pruner_kwargs mirror the reference's optimizer-level
        # attachment (abstractoptimizer.py:29-46); interim_results /
        # interim_results_interval mirror base.py:88-93 — when on, the
        # surrogate trains on budget-augmented interim metrics
        # z = [x, n/N] rather than final metrics only (base.py:536-641)
        super().__init__(pruner=pruner, pruner_kwargs=pruner_kwargs)
        self.num_warmup_trials = num_warmup_trials
        self.random_fraction = random_fraction
        self.interim_results = bool(interim_results)
        if int(interim_results_interval) < 1:
            # validated up front like exact_smax's eta guard: a 0 would
            # surface as a ZeroDivisionError mid-experiment inside
            # get_interim_result_idx's modulo
            raise ValueError(
                f"interim_results_interval must be >= 1, got {interim_results_interval}"
            )
        self.interim_results_interval = int(interim_results_interval)
        self._nprng: np.random.Generator | None = None

    def _initialize(self) -> None:
        self._nprng = np.random.default_rng(self.seed)
        # effective warmup for THIS run: clamp a copy, not the
        # configured value — a reused controller initialized for a
        # small run must not carry the smaller warmup into a later,
        # larger run
        self._warmup = min(self.num_warmup_trials, self.num_trials)

    # -- training data: X in [0,1]^d, y sign-normalized to min ----------

    def get_xy(self, budget: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        """Transform finalized trials to surrogate training data
        (reference get_XY, base.py:459-641). With `budget`, only that
        fidelity's trials feed the model (per-budget surrogates,
        base.py:243-268). A trial without a finite metric (None, NaN,
        ±inf) is left out: one NaN row makes the GP predict NaN
        everywhere."""
        rows = [t for t in self.final_store if _finite(t.final_metric)]
        if budget is not None:
            rows = [t for t in rows if int(t.info_dict.get("budget", 0)) == budget]
        if not rows:
            return np.zeros((0, len(self.searchspace))), np.zeros(0)
        X = np.array([self.searchspace.transform(t.params) for t in rows])
        y = np.array([self.metric_for_min(t.final_metric) for t in rows])
        return X, y

    @staticmethod
    def get_interim_result_idx(metric_history, interval: int = 10) -> list[int]:
        """Indices of a trial's metric history that feed the
        multi-fidelity surrogate: every `interval`-th result (1-based)
        plus always the final one; [last] when the history is shorter
        than one interval (reference base.py:643-668)."""
        max_budget = len(metric_history)
        idx = [i for i in range(max_budget) if (i + 1) % interval == 0]
        if not idx:
            idx = [max_budget - 1]
        if idx[-1] != max_budget - 1:
            idx.append(max_budget - 1)
        return idx

    def _augmented_max_budget(self) -> int:
        """N for the z = [x, n/N] budget feature. Reference
        `get_max_budget` (abstractoptimizer.py:378-401) returns the
        FIRST finalized trial's history length, assuming uniform
        histories; with ragged histories (early-stopped trials) the
        max over finalized histories is the safe generalization and
        agrees with the reference whenever its assumption holds."""
        if self.pruner is not None:
            return int(self.pruner.max_budget)
        lens = [len(t.metric_history) for t in self.final_store if t.metric_history]
        if not lens:
            raise ValueError("At least one finalized Trial is necessary to calculate max budget")
        return max(lens)

    def get_XY(
        self,
        budget: int = 0,
        interim_results: bool = False,
        interim_results_interval: int | None = None,
    ):
        """Surrogate training data (reference get_XY, base.py:459-641);
        budget 0 means all fidelities, matching the reference default.

        With `interim_results=True` (the multi-fidelity BO path,
        base.py:536-641): every `interval`-th interim metric (plus the
        final one) of each finalized trial becomes a training row with
        the hparam vector augmented by the normalized budget
        z = [x, idx/(N-1)] (searchspace._normalize_integer over
        [0, N-1]); y is min-space like the final-metric path. The
        relational twin of this matrix is
        `operators.aggregations.a10b_interim_xy`, which is
        DuckDB-oracle-checked; `tests/test_bo.py` pins this method's
        rows to that relation. Like `get_xy`, it skips a trial whose
        final metric is not finite, and any non-finite interim value."""
        if not interim_results:
            return self.get_xy(budget=budget or None)
        interval = self.interim_results_interval if interim_results_interval is None else int(interim_results_interval)
        if interval < 1:
            raise ValueError(f"interim_results_interval must be >= 1, got {interval}")
        rows = [t for t in self.final_store if _finite(t.final_metric) and t.metric_history]
        if budget:
            rows = [t for t in rows if int(t.info_dict.get("budget", 0)) == budget]
        d = len(self.searchspace)
        if not rows:
            return np.zeros((0, d + 1)), np.zeros(0)
        n_max = self._augmented_max_budget()
        denom = float(max(n_max - 1, 1))
        X_parts, y_parts = [], []
        for t in rows:
            x = np.asarray(self.searchspace.transform(t.params), dtype=float)
            hist = t.metric_history
            for i in self.get_interim_result_idx(hist, interval):
                if not _finite(hist[i]):
                    continue
                X_parts.append(np.append(x, i / denom))
                y_parts.append(self.metric_for_min(hist[i]))
        return np.array(X_parts).reshape(-1, d + 1), np.array(y_parts)

    def _model_xy(self) -> tuple[np.ndarray, np.ndarray]:
        """The surrogate's training set: the trials at `model_budget()`,
        or every finalized trial when those are fewer than
        `min_model_trials()`."""
        X, y = self.get_xy(self.model_budget())
        if len(y) < self.min_model_trials():
            X, y = self.get_xy()
        return X, y

    def model_budget(self) -> int | None:
        """The fidelity whose surrogate to use: the LARGEST budget with
        enough finalized observations (reference reuses the
        biggest-budget model, base.py:251-256); None when trials carry
        no budgets (single-fidelity experiment)."""
        counts: dict[int, int] = {}
        for t in self.final_store:
            if _finite(t.final_metric):
                b = int(t.info_dict.get("budget", 0))
                counts[b] = counts.get(b, 0) + 1
        if set(counts) <= {0}:
            return None
        sufficient = [b for b, n in counts.items() if n >= self.min_model_trials()]
        return max(sufficient) if sufficient else None

    def _emit(self, params: dict, sample_type: str) -> Trial:
        return self._record(Trial(params, info_dict={"sample_type": sample_type}))

    def min_model_trials(self) -> int:
        """Finalized trials with a finite metric required before the
        surrogate can suggest."""
        return len(self.searchspace) + 1

    def _suggest_one(self) -> tuple[dict, str] | None:
        """One warmup/ε-random/model suggestion; a candidate already
        seen is replaced by one `_draw_unseen` redraw
        (base.py:232-301), None when that finds nothing (searchspace
        exhausted). Shared by the single-fidelity loop and pruner slot
        fills."""
        if (
            self._n_emitted < self._warmup
            or sum(_finite(t.final_metric) for t in self.final_store) < self.min_model_trials()
            or self._sampler.random() < self.random_fraction
        ):
            params, stype = self._random_params(), "random"
        else:
            params, stype = self.suggest_model_params(), "model"
        if not self.hparams_exist(params):
            return params, stype
        forced = self._draw_unseen()
        return (forced[0], "random_forced") if forced else None

    def _next_batch(self, max_trials: int) -> list[Trial]:
        out: list[Trial] = []
        while len(out) < max_trials and self._n_emitted < self.num_trials:
            sug = self._suggest_one()
            if sug is None:
                break
            out.append(self._emit(*sug))
        return out

    def suggest_model_params(self) -> dict:  # override
        raise NotImplementedError


# ---------------------------------------------------------------------
# GP regression with Matern 5/2, numpy-only
# ---------------------------------------------------------------------


def matern52(a: np.ndarray, b: np.ndarray, length_scale: float) -> np.ndarray:
    d = np.sqrt(np.maximum(((a[:, None, :] - b[None, :, :]) ** 2).sum(-1), 0.0))
    s = np.sqrt(5.0) * d / length_scale
    return (1.0 + s + s**2 / 3.0) * np.exp(-s)


class _GPModel:
    """Exact GP regression: zero-mean on standardized y, Matern 5/2,
    lengthscale picked by log-marginal-likelihood over a small grid
    (stand-in for sklearn's MLE optimizer, gp.py:266-291)."""

    GRID = (0.1, 0.2, 0.5, 1.0, 2.0)

    def __init__(self, noise: float = 1e-6):
        self.noise = noise
        self.X = None
        self._alpha = None
        self._chol = None
        self.ls = 0.5
        self.y_mean = 0.0
        self.y_std = 1.0

    def fit(self, X: np.ndarray, y: np.ndarray) -> None:
        self.X = X
        self.y_mean = float(y.mean())
        self.y_std = float(y.std()) or 1.0
        yn = (y - self.y_mean) / self.y_std
        best = (-np.inf, None, None, None)
        n = len(X)
        for ls in self.GRID:
            K = matern52(X, X, ls) + self.noise * np.eye(n)
            try:
                L = np.linalg.cholesky(K)
            except np.linalg.LinAlgError:
                continue
            alpha = np.linalg.solve(L.T, np.linalg.solve(L, yn))
            lml = -0.5 * yn @ alpha - np.log(np.diag(L)).sum() - 0.5 * n * math.log(2 * math.pi)
            if lml > best[0]:
                best = (lml, ls, L, alpha)
        if best[1] is None:  # fully degenerate; fall back
            K = matern52(X, X, 1.0) + 1e-3 * np.eye(n)
            L = np.linalg.cholesky(K)
            best = (0.0, 1.0, L, np.linalg.solve(L.T, np.linalg.solve(L, yn)))
        _, self.ls, self._chol, self._alpha = best

    def predict(self, Xs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        Ks = matern52(Xs, self.X, self.ls)
        mu = Ks @ self._alpha
        v = np.linalg.solve(self._chol, Ks.T)
        var = np.maximum(1.0 - (v**2).sum(0), 1e-12)
        return mu * self.y_std + self.y_mean, np.sqrt(var) * self.y_std

    def sample_y(self, Xs: np.ndarray, rng: np.random.Generator) -> np.ndarray:
        """One draw from the JOINT posterior over Xs (Thompson
        sampling needs correlated values, not independent mu/sigma
        draws — sklearn's sample_y, used by reference AsyTS
        acquisitions.py:158-183, does the same O(m^3) factorization)."""
        Ks = matern52(Xs, self.X, self.ls)
        mu = Ks @ self._alpha
        v = np.linalg.solve(self._chol, Ks.T)
        cov = matern52(Xs, Xs, self.ls) - v.T @ v
        L = np.linalg.cholesky(cov + 1e-8 * np.eye(len(Xs)))
        f = mu + L @ rng.standard_normal(len(Xs))
        return f * self.y_std + self.y_mean


def _norm_pdf(z: np.ndarray) -> np.ndarray:
    return np.exp(-0.5 * z**2) / math.sqrt(2 * math.pi)


def _norm_cdf(z: np.ndarray) -> np.ndarray:
    # vectorized erf via math.erf (no scipy in this environment)
    erf = np.vectorize(math.erf)
    return 0.5 * (1.0 + erf(z / math.sqrt(2.0)))


# Acklam's rational approximation of the standard normal inverse CDF
# (|relative error| < 1.15e-9 over (0,1)); the standard scipy-free way
# to draw truncated normals by inverse-transform sampling.
_PPF_A = (-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
          1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00)
_PPF_B = (-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
          6.680131188771972e01, -1.328068155288572e01)
_PPF_C = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
          -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00)
_PPF_D = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
          3.754408661907416e00)


def _norm_ppf(p: np.ndarray) -> np.ndarray:
    p = np.clip(np.asarray(p, dtype=float), 1e-12, 1 - 1e-12)
    out = np.empty_like(p)
    plow, phigh = 0.02425, 1 - 0.02425
    a, b, c, d = _PPF_A, _PPF_B, _PPF_C, _PPF_D
    lo = p < plow
    hi = p > phigh
    mid = ~(lo | hi)
    if lo.any():
        q = np.sqrt(-2 * np.log(p[lo]))
        out[lo] = (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if hi.any():
        q = np.sqrt(-2 * np.log(1 - p[hi]))
        out[hi] = -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if mid.any():
        q = p[mid] - 0.5
        r = q * q
        out[mid] = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
            ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
        )
    return out


def _truncnorm_rvs(
    means: np.ndarray, bw: float, lo: float, hi: float, rng: np.random.Generator
) -> np.ndarray:
    """Truncated-normal draws (one per mean) on [lo, hi] via inverse
    CDF — the scipy-free twin of the reference's sps.truncnorm.rvs
    (tpe.py:96-111): mass is renormalized inside the bounds instead of
    piling up on them the way clipping does."""
    a = _norm_cdf((lo - means) / bw)
    b = _norm_cdf((hi - means) / bw)
    u = a + (b - a) * rng.random(len(means))
    return np.clip(means + bw * _norm_ppf(u), lo, hi)


def expected_improvement(mu: np.ndarray, sigma: np.ndarray, y_best: float) -> np.ndarray:
    """EI for minimization (reference acquisitions.py:68-90 via skopt)."""
    imp = y_best - mu
    z = imp / sigma
    return imp * _norm_cdf(z) + sigma * _norm_pdf(z)


def probability_of_improvement(
    mu: np.ndarray, sigma: np.ndarray, y_best: float, xi: float = 0.01
) -> np.ndarray:
    """PI for minimization (reference acquisitions.py:92-111 via
    skopt's _gaussian_acquisition with acq_func='PI')."""
    return _norm_cdf((y_best - mu - xi) / sigma)


def lower_confidence_bound(mu: np.ndarray, sigma: np.ndarray, kappa: float = 1.96) -> np.ndarray:
    """LCB utility for minimization (acquisitions.py:113-135): the
    reference minimizes mu - kappa*sigma; returned negated so every
    acquisition here is argMAXed uniformly."""
    return -(mu - kappa * sigma)


class GP(BaseAsyncBO):
    """GP controller (reference bayes/gp.py).

    Acquisitions (`acq_fun`): EI (default), PI, LCB (reference
    acquisitions.py:68-135; xi/kappa via `acq_fun_kwargs`) and
    `asy_ts` asynchronous Thompson sampling (acquisitions.py:158-183,
    a joint posterior draw over the candidate pool). Acquisition
    optimizer (`acq_optimizer`): "sampling" argmax over `n_points`
    candidates, or "lbfgs" — the reference's bounded 20-iter
    refinement from the `n_restarts_optimizer` best starts
    (gp.py:183-264), implemented as numpy projected-gradient ascent
    (no scipy in this environment). Busy-trial imputation
    (`liar_strategy`): cl_min/cl_max/cl_mean constant liars or `kb`
    kriging believer (gp.py:329-373).

    Candidate scoring is driver-side numpy. `distributed_scoring` is
    deprecated and does nothing."""

    ACQ_FUNS = ("EI", "PI", "LCB", "asy_ts")
    # how many points a joint-posterior Thompson draw can afford: the
    # O(m^3) factorization in sample_y caps the candidate pool
    MAX_TS_CANDIDATES = 1024

    def __init__(
        self,
        n_points: int = DEFAULT_N_POINTS,
        liar_strategy: str = "cl_min",
        distributed_scoring: bool | None = None,
        acq_fun: str = "EI",
        acq_fun_kwargs: dict | None = None,
        acq_optimizer: str = "sampling",
        n_restarts_optimizer: int = 5,
        **kw,
    ):
        super().__init__(**kw)
        if distributed_scoring is not None:
            warnings.warn(
                "GP(distributed_scoring=...) is deprecated and does nothing: candidates are scored on the driver",
                DeprecationWarning,
                stacklevel=2,
            )
        self.n_points = n_points
        if liar_strategy not in ("cl_min", "cl_max", "cl_mean", "kb"):
            raise ValueError(f"unknown liar strategy {liar_strategy!r} (gp.py:345-373)")
        if acq_fun not in self.ACQ_FUNS:
            raise ValueError(f"unknown acquisition {acq_fun!r}; expected one of {self.ACQ_FUNS}")
        if acq_optimizer not in ("sampling", "lbfgs"):
            raise ValueError(f"unknown acq_optimizer {acq_optimizer!r} (gp.py:183-264)")
        self.liar_strategy = liar_strategy
        self.acq_fun = acq_fun
        self.acq_fun_kwargs = dict(acq_fun_kwargs or {})
        self.acq_optimizer = acq_optimizer
        self.n_restarts_optimizer = n_restarts_optimizer

    def suggest_model_params(self) -> dict:
        # multi-fidelity: train on the biggest budget with enough data;
        # otherwise pool every finalized trial (single-fidelity). With
        # interim_results, the training matrix is the budget-augmented
        # z = [x, n/N] relation (get_XY, reference base.py:536-641) and
        # everything downstream — busy imputation, candidates — carries
        # the extra budget column, scored at z = 1 (gp.py:200-204).
        interim_fit = self.interim_results
        if interim_fit:
            X, y = self.get_XY(budget=self.model_budget() or 0, interim_results=True)
            if len(y) == 0:
                X, y = self.get_XY(interim_results=True)
            # no finalized trial carries a metric history (train_fn
            # never broadcast): fall back to the final-metric matrix —
            # everything downstream must then run UN-augmented, or
            # y.min() dies on a zero-size array
            interim_fit = len(y) > 0
        if not interim_fit:
            X, y = self._model_xy()
        # busy-location imputation (gp.py:329-373): in-flight trials
        # get pseudo-observations — constant liar (ybest/yworst/ymean)
        # or kriging believer (posterior mean of a model fit on the
        # observed data only, gp.py:345-361 'kb'). The budget key is
        # dropped so the liar vector stays in-space.
        busy = [{k: v for k, v in t.params.items() if k != "budget"} for t in self.trial_store.values()]
        if busy:
            Xb = np.array([self.searchspace.transform(p) for p in busy])
            if interim_fit:
                # busy trials are imputed at full budget: z = [x, 1]
                # (reference base.py:601-640)
                Xb = np.hstack([Xb, np.ones((len(Xb), 1))])
            if self.liar_strategy == "kb":
                believer = _GPModel()
                believer.fit(X, y)
                yb = believer.predict(Xb)[0]
            else:
                liar = {"cl_min": y.min(), "cl_max": y.max(), "cl_mean": y.mean()}[self.liar_strategy]
                yb = np.full(len(busy), liar)
            X = np.vstack([X, Xb])
            y = np.concatenate([y, yb])
        model = _GPModel()
        model.fit(X, y)
        y_best = float(y.min())
        n_cand = min(self.n_points, self.MAX_TS_CANDIDATES) if self.acq_fun == "asy_ts" else self.n_points
        cand = self._nprng.random((n_cand, len(self.searchspace)))
        if interim_fit:
            # acquire at max budget: candidates are [x, z=1]
            # (reference gp.py:200-204); lbfgs then refines over
            # the augmented box like the reference's bounds list
            # (gp.py:224-232)
            cand = np.hstack([cand, np.ones((n_cand, 1))])
        util = self._utility(model, cand, y_best)
        if self.acq_optimizer == "lbfgs" and self.acq_fun != "asy_ts":
            # asy_ts re-draws a fresh posterior sample per evaluation
            # (the reference falls back to approx_grad for the same
            # reason, gp.py:220-227); gradient steps on noise are
            # meaningless, so TS stays pure-sampling here
            starts = cand[np.argsort(-util)[: self.n_restarts_optimizer]]
            # the budget coordinate is NOT free: trials always run
            # at full budget, so refinement must hold z = 1 (else
            # gradient ascent optimizes EI at a lower fidelity and
            # the z it chose is silently dropped)
            best = self._refine(model, starts, y_best, n_free=len(self.searchspace))
        else:
            best = cand[int(np.argmax(util))]
        # inverse_transform drops the augmented budget column, like the
        # reference's inverse_transform after clipping (gp.py:256-261)
        best = best[: len(self.searchspace)]
        return self.searchspace.inverse_transform(list(best))

    def _utility(self, model: "_GPModel", X: np.ndarray, y_best: float) -> np.ndarray:
        """Acquisition utility, argMAXed (reference minimizes skopt's
        negated values — same optimum, acquisitions.py:68-183)."""
        if self.acq_fun == "asy_ts":
            return -model.sample_y(X, self._nprng)
        mu, sigma = model.predict(X)
        if self.acq_fun == "EI":
            return expected_improvement(mu, sigma, y_best)
        if self.acq_fun == "PI":
            return probability_of_improvement(mu, sigma, y_best, self.acq_fun_kwargs.get("xi", 0.01))
        return lower_confidence_bound(mu, sigma, self.acq_fun_kwargs.get("kappa", 1.96))

    def _refine(
        self, model: "_GPModel", starts: np.ndarray, y_best: float, n_free: int | None = None
    ) -> np.ndarray:
        """acq_optimizer='lbfgs' (gp.py:183-264): bounded refinement of
        the top sampled candidates. scipy's fmin_l_bfgs_b is not in the
        environment, so this is a projected-gradient ascent — central-
        difference gradient, backtracking step, <= 20 iterations (the
        reference's maxiter), clipped to [0,1]. Ascent is monotone, so
        the result can only improve on the sampled argmax.

        `n_free` limits the ascent to the FIRST n_free coordinates:
        the multi-fidelity budget column is pinned at its start value
        (z = 1), since the trial will run at full budget regardless."""
        eps = 1e-4
        if n_free is None:
            n_free = starts.shape[1]

        def u(x: np.ndarray) -> float:
            return float(self._utility(model, x[None, :], y_best)[0])

        best_x, best_u = starts[0], -np.inf
        for x0 in starts:
            x = x0.copy()
            ux = u(x)
            step = 0.1
            for _ in range(20):
                g = np.zeros_like(x)
                for d in range(n_free):
                    xp, xm = x.copy(), x.copy()
                    xp[d] = min(x[d] + eps, 1.0)
                    xm[d] = max(x[d] - eps, 0.0)
                    denom = xp[d] - xm[d]
                    g[d] = (u(xp) - u(xm)) / denom if denom > 0 else 0.0
                gn = float(np.linalg.norm(g))
                if gn < 1e-12:
                    break
                moved = False
                while step > 1e-5:
                    xn = np.clip(x + step * g / gn, 0.0, 1.0)
                    un = u(xn)
                    if un > ux:
                        x, ux, moved = xn, un, True
                        step *= 1.5
                        break
                    step *= 0.5
                if not moved:
                    break
            if ux > best_u:
                best_x, best_u = x, ux
        return best_x


# ---------------------------------------------------------------------
# TPE
# ---------------------------------------------------------------------


class TPE(BaseAsyncBO):
    """Tree-structured Parzen estimator (reference bayes/tpe.py).

    Mixed-vartype KDEs over the [0,1]-transformed values — a numpy
    re-implementation of the reference's statsmodels KDEMultivariate
    with vartype string 'c...u...' (tpe.py:223-251), exact in the
    non-degenerate case (statsmodels itself is absent from this
    environment):

    - bandwidth 'normal_reference' (statsmodels _kernel_base.py):
      bw_j = 1.06 * std(col_j) * n^(-1/(4+q)) with q = TOTAL dims —
      one shared exponent, not per-dim Scott. For CATEGORICAL dims
      the same formula on the RAW INDEX column gives the
      Aitchison-Aitken lambda (the reference transforms with
      normalize_categorical=False, tpe.py:168-172, so statsmodels
      sees indices 0..c-1).
    - pdf (statsmodels gpke): product over dims of gaussian((x-Xi)/h)
      for 'c' and AA(1-lam / lam/(levels-1)) for 'u' with `levels` =
      distinct values OBSERVED in the KDE data (statsmodels
      aitchison_aitken's num_levels default), summed over data and
      divided by n and the product of the CONTINUOUS bandwidths only.
    - degenerate guards (deviations): a constant column gives bw 0
      and statsmodels returns nan/inf — we floor the pdf bandwidth at
      min_bw=1e-3 and treat a single-level categorical as a constant
      factor instead. The pdf-side lambda is additionally clipped at
      the AA validity limit (levels-1)/levels: the raw
      normal-reference value exceeds 1 for wide-spread indices at
      small n, which statsmodels happily turns into NEGATIVE kernel
      weights (and so negative 'pdf' values that corrupt the EI
      argmax); beyond the limit the kernel is uniform anyway, so the
      clip changes nothing in the valid regime.

    Sampling draws around good observations (tpe.py:84-118):
    continuous dims from a TRUNCATED normal with bandwidth
    max(bw, min_bw=1e-3 from HpBandSter) * bw_factor, categorical
    dims keep the observed category with prob (1 - lambda) (lambda
    unclipped, per tpe.py:114) and re-roll uniformly over the FULL
    domain otherwise. EI = pdf_good/pdf_bad over n_samples draws.
    """

    def __init__(self, gamma: float = 0.15, n_samples: int = DEFAULT_TPE_SAMPLES, bw_factor: float = 3.0, **kw):
        super().__init__(**kw)
        self.gamma = gamma
        self.n_samples = n_samples
        self.bw_factor = bw_factor  # bandwidth widening on sampling, tpe.py:84-118
        self.min_bw = 1e-3          # tpe.py:72 (from HpBandSter)

    def min_model_trials(self) -> int:
        # both KDEs need rows: the good floor is n_hparams+1, so the
        # bad side is only non-empty once n > 2*(n_hparams+1) - 1
        return 2 * (len(self.searchspace) + 1)

    def _split(self, X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Good/bad split (tpe.py:191-221; relational twin: A6)."""
        n = len(y)
        floor = len(self.searchspace) + 1
        n_good = max(floor, int(self.gamma * n))
        n_bad = max(floor, int((1.0 - self.gamma) * n))
        order = np.argsort(y, kind="stable")
        return X[order[:n_good]], X[order[n_good:n_good + n_bad]]

    def _dim_specs(self) -> list[tuple[str, int]]:
        """Per-dim (kind, n_choices): 'u' for CATEGORICAL (unordered),
        'c' otherwise — the reference's statsmodels vartype string
        (tpe.py:223-251; DOUBLE/INTEGER -> 'c', CATEGORICAL -> 'u';
        DISCRETE is ordinal and keeps the continuous kernel — the
        reference raises NotImplementedError for it, tpe.py:252)."""
        out = []
        for _name, t, region in self.searchspace.items():
            out.append(("u", len(region)) if t == CATEGORICAL else ("c", 0))
        return out

    def _normal_reference_bw(self, data: np.ndarray) -> np.ndarray:
        """statsmodels `bw='normal_reference'` (_kernel_base.py):
        1.06 * column std * n^(-1/(4+q)), q = total dims. Categorical
        columns are internally stored normalized (idx/(c-1)); the
        reference feeds statsmodels raw indices, so their lambda is
        recovered exactly by scaling the std back: std(idx) =
        std(col) * (c-1)."""
        n, q = data.shape
        factor = 1.06 * max(n, 1) ** (-1.0 / (4 + q))
        bw = np.empty(q)
        for j, (kind, c) in enumerate(self._dim_specs()):
            s = float(np.std(data[:, j]))
            if kind == "u" and c > 1:
                s *= c - 1  # back to the reference's raw-index scale
            bw[j] = factor * s
        return bw

    def _kde_pdf(self, data: np.ndarray, q: np.ndarray, bw: np.ndarray | None = None) -> np.ndarray:
        """statsmodels KDEMultivariate.pdf (gpke): product over dims
        of gaussian((x-Xi)/h) for 'c' dims and Aitchison-Aitken over
        category indices for 'u' dims, summed over the data and
        normalized by n and the product of the CONTINUOUS bandwidths
        (the AA kernel is a pmf; its lambda does not rescale).
        `bw` lets the caller reuse a bandwidth vector it already
        computed for `data` (one source of truth per KDE fit)."""
        n, ndim = data.shape
        if bw is None:
            bw = self._normal_reference_bw(data)
        kprod = np.ones((len(q), n))
        cont_bw_prod = 1.0
        for j, (kind, c) in enumerate(self._dim_specs()):
            if kind == "u":
                di = np.rint(data[:, j] * max(c - 1, 1)).astype(int)
                levels = np.unique(di).size  # statsmodels num_levels default
                if levels <= 1:
                    continue  # degenerate: constant factor (see docstring)
                # validity clip: lam > (levels-1)/levels makes the AA
                # kernel weights negative (see docstring)
                lam = min(float(bw[j]), (levels - 1) / levels)
                qi = np.rint(q[:, j] * max(c - 1, 1)).astype(int)
                kprod *= np.where(qi[:, None] == di[None, :], 1.0 - lam, lam / (levels - 1))
            else:
                h = max(float(bw[j]), self.min_bw)  # degenerate guard only
                cont_bw_prod *= h
                z = (q[:, j, None] - data[None, :, j]) / h
                kprod *= _norm_pdf(z)
        return kprod.sum(axis=1) / cont_bw_prod / n

    def suggest_model_params(self) -> dict:
        # multi-fidelity: same biggest-sufficient-budget rule as GP
        X, y = self._model_xy()
        good, bad = self._split(X, y)
        if len(bad) == 0:  # defensive: min_model_trials should prevent this
            return self._random_params()
        # sample around good points (tpe.py:84-118): continuous dims
        # from a widened TRUNCATED normal, categorical dims keep the
        # observed category with prob (1 - lambda), else re-roll
        idx = self._nprng.integers(0, len(good), size=self.n_samples)
        samples = np.empty((self.n_samples, X.shape[1]))
        good_bw = self._normal_reference_bw(good)
        for j, (kind, c) in enumerate(self._dim_specs()):
            means = good[idx, j]
            if kind == "u":
                if c <= 1:
                    samples[:, j] = 0.0
                    continue
                # keep prob (1 - lambda), lambda UNCLIPPED (tpe.py:114);
                # re-roll uniform over the FULL domain (tpe.py:116-118)
                keep = self._nprng.random(self.n_samples) < (1.0 - good_bw[j])
                rerolled = self._nprng.integers(0, c, size=self.n_samples)
                cats = np.where(keep, np.rint(means * (c - 1)).astype(int), rerolled)
                samples[:, j] = cats / (c - 1)
            else:
                bw = max(float(good_bw[j]), self.min_bw) * self.bw_factor  # tpe.py:101
                samples[:, j] = _truncnorm_rvs(means, bw, 0.0, 1.0, self._nprng)
        ei = self._kde_pdf(good, samples, bw=good_bw) / np.maximum(
            self._kde_pdf(bad, samples), EI_CLIP
        )
        best = samples[int(np.argmax(ei))]
        return self.searchspace.inverse_transform(best.tolist())
