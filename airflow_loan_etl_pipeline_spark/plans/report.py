"""Report edge (SURVEY.md K6/K7, M1/M2): collect-and-render summary.

The reference renders per-file compression metrics and the top
aggregate segments into an HTML email
(/root/reference/airflow/dags/drive_auto_compress_email.py:353-517) with
human-readable byte sizes (:342-350) and a zero-guarded compression
ratio (:300-303). The engine keeps the render driver-side (it IS a
report edge — the only place ``collect()`` is allowed). The per-file
compression metrics come from plans/drive_pipeline.compress_fresh.
"""

from __future__ import annotations


def render_html_report(
    file_summaries: list[dict], top_segments: list[dict]
) -> str:
    """K7: HTML render of the two report tables. Pure string building —
    callers send it wherever (SMTP in the reference; we just return it)."""

    def table(rows: list[dict]) -> str:
        if not rows:
            return "<p>(none)</p>"
        cols = list(rows[0].keys())
        head = "".join(f"<th>{c}</th>" for c in cols)
        body = "".join(
            "<tr>" + "".join(f"<td>{r.get(c, '')}</td>" for c in cols) + "</tr>"
            for r in rows
        )
        return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"

    return (
        "<html><body>"
        "<h2>Processed files</h2>" + table(file_summaries)
        + "<h2>Top segments</h2>" + table(top_segments)
        + "</body></html>"
    )


def send_html_report(
    html: str,
    subject: str,
    sender: str,
    recipients: list[str],
    host: str = "localhost",
    port: int = 25,
    timeout: float = 30.0,
) -> None:
    """K7 delivery: send the rendered report over SMTP — the reference's
    ``_send_summary_email`` (drive_auto_compress_email.py:510-514, MIME
    build :494-508), minus Airflow. Plain MIME + ``smtplib``; failures
    RAISE (the reference logs-and-swallows :516-517 — an invisible
    report loss; callers that want that behavior can catch). Driver-side
    by design: delivery is a report edge, never executor work."""
    import smtplib
    from email.mime.multipart import MIMEMultipart
    from email.mime.text import MIMEText

    msg = MIMEMultipart("alternative")
    msg["Subject"] = subject
    msg["From"] = sender
    msg["To"] = ", ".join(recipients)
    msg.attach(MIMEText(html, "html"))
    with smtplib.SMTP(host, port, timeout=timeout) as smtp:
        smtp.sendmail(sender, recipients, msg.as_string())
