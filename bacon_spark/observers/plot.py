"""Plot sink: 1-D time series -> matplotlib figure
(reference TimePlotData, /root/reference/bacon/observers/plot.py:33-70).

matplotlib is not in this container, so the data-preparation layer (which
is the engine's responsibility: collect the small aggregated slice, order
it, split into series) is real and tested, while figure rendering is gated
behind the import.
"""

from __future__ import annotations

from ..cubequery import CubeQuery
from ..engine import CuttingBoard


class TimePlotData:
    """Prepared plot data: x = first axis values (expected: a date-family
    label), one y-series per visible measure."""

    def __init__(self, board: CuttingBoard, query: CubeQuery):
        if len(query.axes) != 1:
            raise ValueError("TimePlotData requires exactly one axis")
        self.board = board
        self.query = query
        rows = board.slice(query).rows()
        axis = query.axes[0]
        self.x = [r[axis] for r in rows]
        self.series = {
            v: [r[v] for r in rows] for v in query.visible_values
        }
        self.x_title = board.cubedef.get_label(axis).title
        self.titles = {v: board.cubedef.get_value(v).title for v in self.series}

    def render(self, figsize=(10, 6)):
        """Render to a matplotlib figure when matplotlib is available;
        otherwise fall back to the headless stdlib SVG renderer."""
        try:
            import matplotlib
        except ImportError:  # lib absent in container: headless fallback
            return self.render_svg(figsize)
        matplotlib.use("Agg")
        import matplotlib.pyplot as plt

        fig, ax = plt.subplots(figsize=figsize)
        for name, ys in self.series.items():
            ax.plot(self.x, ys, label=self.titles[name])
        ax.set_xlabel(self.x_title)
        ax.legend()
        fig.autofmt_xdate()
        return fig

    def render_svg(self, figsize=(10, 6)) -> str:
        """Headless line-chart render: an SVG document built with no
        third-party libs (the reference's plot observer is matplotlib-only;
        this keeps the sink usable in minimal containers). x values are
        placed at their sorted positions, each visible series is one
        polyline, nulls break the line."""
        from xml.sax.saxutils import escape

        W, H = int(figsize[0] * 72), int(figsize[1] * 72)
        ml, mr, mt, mb = 60, 20, 20, 50  # margins
        iw, ih = W - ml - mr, H - mt - mb
        palette = ("#1f77b4", "#d62728", "#2ca02c", "#9467bd", "#ff7f0e", "#8c564b")
        nums = [
            v for ys in self.series.values() for v in ys if isinstance(v, (int, float))
        ]
        lo, hi = (min(nums), max(nums)) if nums else (0.0, 1.0)
        if lo == hi:
            lo, hi = lo - 0.5, hi + 0.5
        n = max(len(self.x) - 1, 1)

        def sx(i):
            return ml + iw * i / n

        def sy(v):
            return mt + ih * (1 - (v - lo) / (hi - lo))

        parts = [
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}" '
            f'viewBox="0 0 {W} {H}" font-family="sans-serif" font-size="11">',
            f'<rect width="{W}" height="{H}" fill="white"/>',
            # axes
            f'<line x1="{ml}" y1="{mt}" x2="{ml}" y2="{mt+ih}" stroke="#333"/>',
            f'<line x1="{ml}" y1="{mt+ih}" x2="{ml+iw}" y2="{mt+ih}" stroke="#333"/>',
        ]
        for frac in (0.0, 0.25, 0.5, 0.75, 1.0):  # y ticks + gridlines
            v = lo + (hi - lo) * frac
            y = sy(v)
            parts.append(
                f'<line x1="{ml}" y1="{y:.1f}" x2="{ml+iw}" y2="{y:.1f}" '
                f'stroke="#ddd" stroke-dasharray="3,3"/>'
                f'<text x="{ml-6}" y="{y+4:.1f}" text-anchor="end">{v:g}</text>'
            )
        step = max(1, len(self.x) // 8)  # x tick labels, thinned
        for i in range(0, len(self.x), step):
            parts.append(
                f'<text x="{sx(i):.1f}" y="{mt+ih+16}" text-anchor="middle">'
                f"{escape(str(self.x[i]))}</text>"
            )
        for si, (name, ys) in enumerate(self.series.items()):
            color = palette[si % len(palette)]
            segs: list[list[str]] = [[]]
            for i, v in enumerate(ys):
                if isinstance(v, (int, float)):
                    segs[-1].append(f"{sx(i):.1f},{sy(v):.1f}")
                elif segs[-1]:
                    segs.append([])  # null breaks the line
            for seg in segs:
                if len(seg) >= 2:
                    parts.append(
                        f'<polyline points="{" ".join(seg)}" fill="none" '
                        f'stroke="{color}" stroke-width="1.5"/>'
                    )
                elif len(seg) == 1:
                    x, y = seg[0].split(",")
                    parts.append(f'<circle cx="{x}" cy="{y}" r="2" fill="{color}"/>')
            ly = mt + 14 + 16 * si  # legend
            parts.append(
                f'<line x1="{ml+iw-110}" y1="{ly-4}" x2="{ml+iw-90}" y2="{ly-4}" '
                f'stroke="{color}" stroke-width="1.5"/>'
                f'<text x="{ml+iw-84}" y="{ly}">{escape(str(self.titles[name]))}</text>'
            )
        parts.append(
            f'<text x="{ml+iw/2:.0f}" y="{H-12}" text-anchor="middle">'
            f"{escape(str(self.x_title))}</text>"
        )
        parts.append("</svg>")
        return "".join(parts)

